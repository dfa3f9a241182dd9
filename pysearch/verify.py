"""Offline index consistency check — the analog of the reference's
``CheckConsistency`` (/root/reference/internal/doclib/bleve_pdf.go:177-223,
which validates catalog<->index agreement).

``verify_index`` cross-checks every table of a built index:

- manifest: present, format version, all stages marked done;
- docs: per-case row counts == manifest case_counts (and their total ==
  n_docs), doc_ids unique per case;
- doc_map: same (case, doc_id) set as docs;
- postings: every commit dir covered by lineage and vice versa;
- term_stats: every commit names a postings commit; total df == total
  block posting count, total cf == total tf (the finalize aggregation
  invariants); per-case sum of cf == manifest sum_dl;
- block payloads: per-block CRC32 verification, distributed.

Returns a list of human-readable problems (empty == consistent).  All
checks are Spark aggregates over column-pruned scans except the CRC pass,
which reads the packed payloads (skippable via ``check_crcs=False``).
"""

from __future__ import annotations

import os

import pandas as pd

from pysearch import codec
from pysearch.lineage import IndexLayout
from pysearch.version import INDEX_FORMAT_VERSION


def verify_index(spark, index_dir: str, check_crcs: bool = True) -> list[str]:
    from pyspark.sql import functions as F

    problems: list[str] = []
    layout = IndexLayout(index_dir)
    m = layout.read_manifest()
    if not m:
        return [f"no manifest at {layout.manifest_path}"]
    # staged-but-uncommitted compaction generations (trees NEWER than the
    # manifest's committed pointer) are leftovers of a crashed run —
    # harmless (unreferenced) but report them so operators sweep.  Trees
    # OLDER than the pointer are retained snapshots kept deliberately for
    # in-flight readers (compact.compact_index retain_previous) — not a
    # problem.
    from pysearch.lineage import TABLES

    for name in TABLES:
        cur = int(layout._generations().get(name, 0))
        for gen in layout.generation_paths(name):
            if gen > cur:
                problems.append(
                    f"uncommitted compaction generation {name}.g{gen} "
                    "(staged by a crashed run; recover_compaction clears it)"
                )
    # every ADVERTISED snapshot must be readable: a listed version whose
    # referenced generation trees/commits were removed outside the expiry
    # path (which prunes the manifest) is an inconsistency
    import json as _json

    for v in layout.snapshots():
        try:
            with open(f"{layout.manifest_path}.v{v}") as f:
                snap = _json.load(f)
        except (OSError, ValueError):
            problems.append(f"snapshot manifest v{v} unreadable")
            continue
        gens = snap.get("generations", {})
        for name, batches in snap.get("snapshot_commits", {}).items():
            if not batches:
                continue
            g = int(gens.get(name, 0))
            base = os.path.join(layout.root, name)
            d = base if g == 0 else f"{base}.g{g}"
            have = {
                int(c.split("-", 1)[1]) for c in (
                    os.listdir(d) if os.path.isdir(d) else [])
                if c.startswith("commit-")
            }
            missing = set(int(b) for b in batches) - have
            if missing:
                problems.append(
                    f"snapshot v{v} references missing commits "
                    f"{sorted(missing)} of {name} (gen {g}) — expired "
                    "outside expire_generations? prune_dangling_snapshots "
                    "repairs the listing"
                )
    if m.get("format_version") != INDEX_FORMAT_VERSION:
        problems.append(
            f"format_version {m.get('format_version')} != {INDEX_FORMAT_VERSION}"
        )
    for stage in ("docs", "postings", "finalize"):
        if not layout.stage_done(stage):
            problems.append(f"stage {stage!r} not marked done")
    if problems:
        return problems  # table checks assume a complete build

    docs = layout.read_commits(spark, layout.docs)
    doc_map = layout.read_commits(spark, layout.doc_map)
    blocks = layout.read_commits(spark, layout.postings)
    tstats = layout.read_commits(spark, layout.term_stats)

    # docs counts vs manifest: one per-case aggregate
    per_case = {
        str(r["case_id"]): int(r["n"])
        for r in docs.groupBy("case_id").agg(F.count("*").alias("n")).collect()
    }
    n_docs = sum(per_case.values())
    docs_stage = m["stages"]["docs"]
    n_manifest = docs_stage.get("n_docs")
    if n_manifest is not None and n_docs != int(n_manifest):
        problems.append(f"docs rows {n_docs} != manifest n_docs {n_manifest}")
    counts = {str(c): int(n)
              for c, n in docs_stage.get("case_counts", {}).items()}
    for c in sorted(set(per_case) | set(counts)):
        if per_case.get(c, 0) != counts.get(c, 0):
            problems.append(
                f"case {c}: docs rows {per_case.get(c, 0)} != manifest "
                f"case_counts {counts.get(c, 0)}")

    # doc_id uniqueness per case
    dup = (
        docs.groupBy("case_id", "doc_id").count()
        .filter(F.col("count") > 1).count()
    )
    if dup:
        problems.append(f"{dup} duplicate (case_id, doc_id) keys in docs")

    # doc_map <-> docs agreement (same key set)
    keys_d = docs.select("case_id", "doc_id")
    keys_m = doc_map.select("case_id", "doc_id")
    missing = keys_d.exceptAll(keys_m).count()
    extra = keys_m.exceptAll(keys_d).count()
    if missing or extra:
        problems.append(
            f"doc_map out of sync with docs: {missing} missing, {extra} extra"
        )

    # postings commits <-> lineage coverage (both directions)
    commits = {
        int(os.path.basename(d).split("-", 1)[1])
        for d in layout.list_commits(layout.postings)
    }
    covered = layout.covered_batches("postings")
    if commits - covered:
        problems.append(f"postings commits without lineage: {sorted(commits - covered)}")
    if covered - commits:
        problems.append(f"lineage references missing postings commits: {sorted(covered - commits)}")
    stats_commits = {
        int(os.path.basename(d).split("-", 1)[1])
        for d in layout.list_commits(layout.term_stats)
    }
    if stats_commits - commits:
        problems.append(
            "term_stats commits without a postings commit: "
            f"{sorted(stats_commits - commits)}")

    # term_stats aggregation invariants (finalize correctness)
    b = blocks.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("df"),
        F.coalesce(F.sum("sum_tf"), F.lit(0)).alias("cf"),
    ).collect()[0]
    t = {str(r["case_id"]): (int(r["df"]), int(r["cf"])) for r in
         tstats.groupBy("case_id").agg(F.sum("df").alias("df"),
                                       F.sum("cf").alias("cf")).collect()}
    t_df = sum(df for df, _cf in t.values())
    t_cf = sum(cf for _df, cf in t.values())
    if int(b["df"]) != t_df or int(b["cf"]) != t_cf:
        problems.append(
            f"term_stats totals (df={t_df}, cf={t_cf}) != "
            f"block totals (df={b['df']}, cf={b['cf']})"
        )
    # the manifest's summed doc lengths (BM25's avgdl numerators)
    sum_dl = {str(c): int(v) for c, v in
              m["stages"]["finalize"].get("sum_dl", {}).items()}
    for c in sorted(set(sum_dl) | set(t)):
        cf = t.get(c, (0, 0))[1]
        if sum_dl.get(c, 0) != cf:
            problems.append(
                f"case {c}: manifest sum_dl {sum_dl.get(c, 0)} != "
                f"term_stats cf total {cf}")

    if check_crcs:
        def check(batches):
            for pdf in batches:
                yield pd.DataFrame({"bad": [codec.crc_mismatches(pdf)]})

        def n_bad(df, *cols) -> int:
            return (
                df.select(*cols).mapInPandas(check, schema="bad long")
                .agg(F.coalesce(F.sum("bad"), F.lit(0)).alias("bad"))
                .collect()[0]["bad"]
            )

        bad = n_bad(blocks, "doc_ids_bin", "tfs_bin", "dls_bin", "crc32",
                    "pos_bin", "pos_crc32")
        if bad:
            problems.append(f"{bad} posting blocks failed CRC32 verification")

        # token-offset sidecar CRCs (store_positions builds only; a
        # positions index must carry the sidecar on every doc)
        if m.get("positions"):
            bad_o = n_bad(docs, "tok_starts_bin", "tok_lens_bin",
                          "offs_crc32")
            if bad_o:
                problems.append(
                    f"{bad_o} docs failed token-offset sidecar verification"
                )

    return problems
