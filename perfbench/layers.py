"""Per-layer metrics of a traced run, from its spans and its Spark event log.

Layer names follow pysearch's modules.  Times are span self times (a
span's duration minus the part its child spans cover); Spark counters come
from the jobs attributed to a layer's spans.  ``PER_LAYER`` lists every
metric with its unit; a workload that does not exercise a layer reports 0
for it.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

import spans as tracing

PER_LAYER = {
    "session.start_s": "s",
    "build.docs_s": "s", "build.postings_s": "s", "build.finalize_s": "s",
    "build.jobs": "count", "build.stages": "count", "build.tasks": "count",
    "build.task_s": "s", "build.shuffle_bytes": "bytes",
    "build.spill_bytes": "bytes", "build.output_bytes": "bytes",
    "lineage.commit_s": "s", "lineage.manifest_writes": "count",
    "lineage.commit_dirs": "count",
    "query.jobs_per_call": "count", "query.local_ratio": "ratio",
    "query.job_s": "s", "query.driver_s": "s",
    "query.input_bytes_per_call": "bytes", "query.prune_jobs": "count",
    "score.kernel_s": "s", "score.kernel_calls": "count",
    "codec.decode_s": "s", "codec.postings_decoded": "count",
    "query.joinback_s": "s", "query.batch_jobs": "count",
    "query.refresh_s": "s", "query.load_s": "s",
    "streaming.nrt_s": "s", "streaming.nrt_jobs": "count",
    "delete.s": "s", "delete.jobs": "count",
    "compact.s": "s", "compact.jobs": "count", "compact.output_bytes": "bytes",
}
OP_LAYER = {"s": "s", "jobs": "count", "shuffle_bytes": "bytes"}


def names(ops) -> dict:
    out = dict(PER_LAYER)
    for op in ops:
        for k, u in OP_LAYER.items():
            out[f"ops.{op}.{k}"] = u
    return out


def per_layer(ctx, ops) -> dict:
    """Every per-layer metric of ``names(ops)`` as {"value", "unit"}."""
    sp = ctx.tr.spans
    jobs = tracing.read_event_log(ctx.event_dir)
    tracing.attribute_jobs(sp, jobs)
    self_t = tracing.self_times(sp)
    by_name = defaultdict(list)
    for s in sp:
        by_name[s["name"]].append(s)
    jobs_in = defaultdict(list)   # span id -> jobs attributed to it
    for j in jobs:
        if j["span_id"] is not None:
            jobs_in[j["span_id"]].append(j)

    def under(roots):
        ids = tracing.descendants(sp, [s["id"] for s in roots])
        return [j for i in ids for j in jobs_in[i]]

    def self_sum(name):
        return sum(self_t[s["id"]] for s in by_name[name])

    def mean_dur(name):
        xs = [s["end"] - s["start"] for s in by_name[name]]
        return sum(xs) / len(xs) if xs else 0.0

    def per_call(roots, key=None):
        if not roots:
            return 0.0
        js = under(roots)
        total = len(js) if key is None else sum(j[key] for j in js)
        return total / len(roots)

    v = {}
    v["session.start_s"] = sum(s["end"] - s["start"]
                               for s in by_name["session.start"])
    for stage in ("docs", "postings", "finalize"):
        v[f"build.{stage}_s"] = self_sum(f"build.{stage}")
    bj = under(by_name["build.index"])
    v["build.jobs"] = len(bj)
    for k in ("stages", "tasks", "task_s", "shuffle_bytes", "spill_bytes",
              "output_bytes"):
        v[f"build.{k}"] = sum(j[k] for j in bj)
    v["lineage.commit_s"] = self_sum("lineage.commit")
    v["lineage.manifest_writes"] = ctx.tr.counts["lineage.manifest_writes"]
    v["lineage.commit_dirs"] = ctx.commit_dirs[-1] if ctx.commit_dirs else 0

    calls = by_name["query.search_ids"]
    v["query.jobs_per_call"] = per_call(calls)
    v["query.local_ratio"] = (
        sum(1 for s in calls if not under([s])) / len(calls) if calls else 0.0)
    job_s = driver_s = 0.0
    for s in calls:
        cov = tracing.covered([(max(j["submit"], s["start"]),
                                min(j["end"], s["end"])) for j in under([s])])
        job_s += cov
        driver_s += (s["end"] - s["start"]) - cov
    v["query.job_s"] = job_s / len(calls) if calls else 0.0
    v["query.driver_s"] = driver_s / len(calls) if calls else 0.0
    v["query.input_bytes_per_call"] = per_call(calls, "input_bytes")
    v["query.prune_jobs"] = per_call(by_name["query.prune"])
    v["score.kernel_s"] = self_sum("score.kernel")
    v["score.kernel_calls"] = ctx.tr.counts["score.kernel_calls"]
    v["codec.decode_s"] = self_sum("codec.decode")
    v["codec.postings_decoded"] = ctx.tr.counts["codec.postings_decoded"]
    searches = by_name["query.search"]
    v["query.joinback_s"] = (self_sum("query.search") / len(searches)
                             if searches else 0.0)
    v["query.batch_jobs"] = per_call(by_name["query.batch"])
    v["query.refresh_s"] = mean_dur("query.refresh")
    v["query.load_s"] = mean_dur("query.load")
    v["streaming.nrt_s"] = mean_dur("streaming.nrt")
    v["streaming.nrt_jobs"] = per_call(by_name["streaming.nrt"])
    v["delete.s"] = mean_dur("delete")
    v["delete.jobs"] = per_call(by_name["delete"])
    v["compact.s"] = mean_dur("compact")
    v["compact.jobs"] = per_call(by_name["compact"])
    v["compact.output_bytes"] = sum(j["output_bytes"]
                                    for j in under(by_name["compact"]))
    for op in ops:
        roots = by_name[f"ops.{op}"]
        v[f"ops.{op}.s"] = (statistics.median(
            s["end"] - s["start"] for s in roots) if roots else 0.0)
        v[f"ops.{op}.jobs"] = per_call(roots)
        v[f"ops.{op}.shuffle_bytes"] = per_call(roots, "shuffle_bytes")

    ctx.named["jobs_by_callsite_module"] = _by_module(jobs)
    ctx.named["jobs_total"] = len(jobs)
    ctx.named["jobs_unattributed"] = sum(1 for j in jobs
                                         if j["span_id"] is None)
    return {k: {"value": v[k], "unit": u} for k, u in names(ops).items()}


def _by_module(jobs) -> dict:
    out = defaultdict(int)
    for j in jobs:
        out[j["module"] or "other"] += 1
    return dict(sorted(out.items()))


def compare_runs(work, workload, seed, e2e, per_layer) -> dict:
    """Tracing overhead (traced minus untraced end-to-end values, when an
    untraced run of this workload and seed exists) and, against the
    previous traced run of it, which counters repeated exactly."""
    out = {}
    base = os.path.join(work, "results", f"{workload}-s{seed}")
    untraced = _load(base + "-t0.json")
    if untraced:
        out["tracing_overhead"] = {
            k: m["value"] - untraced["end_to_end"][k]["value"]
            for k, m in e2e.items()
            if m["value"] is not None
            and untraced["end_to_end"].get(k, {}).get("value") is not None}
    prev = _load(base + "-t1.json")
    if prev and "per_layer" in prev:
        out["repeats_exactly"] = {
            k: m["value"] == prev["per_layer"][k]["value"]
            for k, m in sorted(per_layer.items())
            if k in prev["per_layer"] and m["unit"] in ("count", "bytes")}
    return out


def _load(path):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None
