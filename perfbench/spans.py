"""Span recorder for the traced benchmark run, and the Spark event-log
reader that attributes jobs to spans.

Spans are recorded from the benchmark's own files: ``instrument`` wraps the
public functions of each pysearch module in place, so a call into the
module opens a span named after its layer.  Spans live in memory and are
written out when the run ends.  A span opened on a thread that has no open
span of its own (``build_index``'s two worker threads) takes the main
thread's innermost open span as its parent.

Each span that can run Spark jobs also sets the Spark local property
``perfbench.span`` to its id, so every job it submits carries that id in
the event log; jobs without it are attributed to the innermost span open
at their submission time.
"""

from __future__ import annotations

import collections
import functools
import glob
import json
import os
import re
import threading
import time

SPAN_PROP = "perfbench.span"


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list = []
        self.counts = collections.Counter()
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list = []

    def _stack(self) -> list:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def open(self, name: str, jobs: bool = False) -> tuple:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is None and stack is not self._main_stack:
            main = self._main_stack[-1:]
            parent = main[0] if main else None
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent,
                   "thread": threading.get_ident(),
                   "start": time.time(), "end": None}
            self.spans.append(rec)
        stack.append(sid)
        prev = None
        if jobs and self.spark is not None:
            sc = self.spark.sparkContext
            prev = sc.getLocalProperty(SPAN_PROP)
            sc.setLocalProperty(SPAN_PROP, str(sid))
        return rec, prev, jobs

    def close(self, token: tuple) -> None:
        rec, prev, jobs = token
        rec["end"] = time.time()
        self._stack().pop()
        if jobs and self.spark is not None:
            self.spark.sparkContext.setLocalProperty(SPAN_PROP, prev)

    def span(self, name: str, jobs: bool = True):
        return _SpanCtx(self, name, jobs)

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counts[key] += n

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


class _SpanCtx:
    __slots__ = ("tr", "name", "jobs", "tok")

    def __init__(self, tr, name, jobs):
        self.tr, self.name, self.jobs = tr, name, jobs

    def __enter__(self):
        self.tok = self.tr.open(self.name, self.jobs)
        return self.tok[0]

    def __exit__(self, *exc):
        self.tr.close(self.tok)
        return False


class NullTracer:
    """Stand-in for untraced runs: spans cost one attribute lookup."""

    def span(self, name: str, jobs: bool = True):
        return _NULL

    def count(self, key: str, n: int = 1) -> None:
        pass


class _NullCtx:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL = _NullCtx()


# ---------------------------------------------------------------------------
# instrumentation: wrap public entry points of each pysearch module in place
# ---------------------------------------------------------------------------

def _wrap(tr: Tracer, fn, name: str, jobs: bool, wrap_result=None,
          on_result=None):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        tok = tr.open(name, jobs)
        try:
            out = fn(*a, **kw)
        finally:
            tr.close(tok)
        if on_result is not None:
            on_result(a, kw, out)
        if wrap_result is not None:
            out = wrap_result(out)
        return out
    return wrapper


def instrument(tr: Tracer) -> callable:
    """Patch pysearch's public functions to record spans; returns a callable
    that restores the originals."""
    from pysearch import (build, codec, compact, delete, lineage, query,
                          score, streaming, verify)

    patched = []

    def patch(owner, attr, name, jobs=True, **kw):
        orig = getattr(owner, attr)
        setattr(owner, attr, _wrap(tr, orig, name, jobs, **kw))
        patched.append((owner, attr, orig))

    def finish_wrapper(name):
        # the docs/postings stages return deferred commit closures; their
        # time belongs to the same stage
        def wrap_result(out):
            if callable(out):
                return _wrap(tr, out, name, True)
            if isinstance(out, tuple) and out and callable(out[1]):
                return (out[0], _wrap(tr, out[1], name, True)) + out[2:]
            return out
        return wrap_result

    patch(build, "build_index", "build.index")
    patch(build, "build_docs_stage", "build.docs",
          wrap_result=finish_wrapper("build.docs"))
    patch(build, "build_postings_stage", "build.postings",
          wrap_result=finish_wrapper("build.postings"))
    patch(build, "build_finalize_stage", "build.finalize")
    patch(build, "build_finalize_delta", "build.finalize")
    L = lineage.IndexLayout
    for attr in ("commit_batch", "append_lineage", "commit_snapshot"):
        patch(L, attr, "lineage.commit")
    patch(L, "write_manifest", "lineage.commit",
          on_result=lambda a, kw, out: tr.count("lineage.manifest_writes"))
    S = query.Searcher
    patch(S, "__init__", "query.load")
    patch(S, "refresh", "query.refresh")
    patch(S, "search_ids", "query.search_ids")
    patch(S, "count", "query.search_ids")
    patch(S, "search_ids_many", "query.batch")
    patch(S, "search", "query.search")
    if hasattr(S, "_prune_blocks"):
        # block-max pruning's own jobs: the bound job and phase 1
        patch(S, "_prune_blocks", "query.prune")
    for attr in dir(score):
        if attr.startswith(("score_segment_blocks", "count_segment_docs")):
            patch(score, attr, "score.kernel", jobs=False,
                  on_result=lambda a, kw, out: tr.count("score.kernel_calls"))
    for attr in ("unpack_block", "unpack_blocks_batch"):
        patch(codec, attr, "codec.decode", jobs=False,
              on_result=lambda a, kw, out: tr.count(
                  "codec.postings_decoded", len(out[0])))
    patch(codec, "unpack_positions_batch", "codec.decode", jobs=False)
    patch(streaming, "search_with_arrivals", "streaming.nrt")
    patch(delete, "delete_docs", "delete")
    patch(compact, "compact_index", "compact")
    patch(verify, "verify_index", "verify")

    def restore():
        for owner, attr, orig in reversed(patched):
            setattr(owner, attr, orig)
    return restore


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_SITE_RE = re.compile(r"(pysearch|perfbench)/(\w+)\.py:\d+")
_KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd",
         "SparkListenerStageCompleted", "SparkListenerTaskEnd",
         "SparkListenerSQLExecutionStart")


def read_event_log(log_dir: str) -> list:
    """Jobs of every application logged under ``log_dir`` (one uncompressed,
    non-rolling log file per application): a list of dicts with submit/end
    (epoch seconds), the ``perfbench.span`` property, the Python call-site
    module, and completed-stage and task totals."""
    jobs, stage_job, sql_site = {}, {}, {}
    stages = collections.defaultdict(collections.Counter)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                head = line[:80]
                if not any(k in head for k in _KEEP):
                    continue
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerJobStart":
                    p = e.get("Properties") or {}
                    site = p.get("callSite.short") or ""
                    root = p.get("spark.sql.execution.root.id")
                    jobs[e["Job ID"]] = {
                        "id": e["Job ID"],
                        "submit": e["Submission Time"] / 1000.0,
                        "end": None,
                        "span": p.get(SPAN_PROP),
                        "site": site,
                        "sql_root": root,
                        "stages": 0, "tasks": 0, "task_s": 0.0,
                        "shuffle_bytes": 0, "spill_bytes": 0,
                        "input_bytes": 0, "output_bytes": 0,
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = e["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerSQLExecutionStart":
                    sql_site[str(e.get("executionId"))] = e.get("description", "")
                elif kind == "SparkListenerStageCompleted":
                    stages[e["Stage Info"]["Stage ID"]]["completed"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    c = stages[e["Stage ID"]]
                    c["tasks"] += 1
                    c["task_ms"] += m.get("Executor Run Time", 0)
                    c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                           ).get("Shuffle Bytes Written", 0)
                    c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    c["input_bytes"] += (m.get("Input Metrics") or {}
                                         ).get("Bytes Read", 0)
                    c["output_bytes"] += (m.get("Output Metrics") or {}
                                          ).get("Bytes Written", 0)
    for sid, c in stages.items():
        j = jobs.get(stage_job.get(sid))
        if j is None:
            continue
        j["stages"] += 1 if c["completed"] else 0
        j["tasks"] += c["tasks"]
        j["task_s"] += c["task_ms"] / 1000.0
        for k in ("shuffle_bytes", "spill_bytes", "input_bytes",
                  "output_bytes"):
            j[k] += c[k]
    out = []
    for j in jobs.values():
        site = j["site"] or sql_site.get(str(j["sql_root"]), "")
        m = _SITE_RE.search(site)
        j["module"] = f"{m.group(1)}.{m.group(2)}" if m else None
        if j["end"] is None:
            j["end"] = j["submit"]
        out.append(j)
    return sorted(out, key=lambda j: j["submit"])


def attribute_jobs(spans: list, jobs: list) -> None:
    """Set ``job["span_id"]``: the span named by the job's local property,
    else the deepest span open at the job's submission time."""
    depth = {}
    for s in spans:
        p = s["parent"]
        depth[s["id"]] = 0 if p is None else depth.get(p, 0) + 1
    by_id = {s["id"]: s for s in spans}
    for j in jobs:
        sid = j.get("span")
        if sid is not None and int(sid) in by_id:
            j["span_id"] = int(sid)
            continue
        best = None
        for s in spans:
            end = s["end"] if s["end"] is not None else float("inf")
            if s["start"] <= j["submit"] <= end and (
                    best is None or depth[s["id"]] >= depth[best["id"]]):
                best = s
        j["span_id"] = best["id"] if best else None


def self_times(spans: list) -> dict:
    """span id -> self time: duration minus the part of it covered by the
    span's children (children on several threads may overlap)."""
    kids = collections.defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        start, end = s["start"], s["end"] or s["start"]
        out[s["id"]] = (end - start) - covered(
            [(max(c["start"], start), min(c["end"] or end, end))
             for c in kids[s["id"]]])
    return out


def covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def descendants(spans: list, root_ids) -> set:
    """Ids of the spans under (and including) ``root_ids``."""
    kids = collections.defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    out, todo = set(), list(root_ids)
    while todo:
        i = todo.pop()
        if i not in out:
            out.add(i)
            todo.extend(kids[i])
    return out
