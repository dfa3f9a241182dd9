"""Offline index compaction — collapse accumulated commit batches.

Incremental appends (``build_index(append=True)``, streaming
``foreach_batch_indexer``) each add a ``commit-NNNNN`` batch per table, and
``IndexLayout.read_commits`` unions one parquet read per commit — O(commits)
scans per query after many appends (the scale risk called out in the r1
review of ``lineage.read_commits``).  ``compact_index`` rewrites every
multi-commit table into a single consolidated ``commit-00000`` with the same
partition layout the build writes (docs/doc_map by ``case_id``, postings by
``term_bucket`` — query partition pruning survives), consolidates the
term_stats delta commits by SUMMING per-term df/cf (delta finalize appends
one stats commit per postings batch, see build.finalize_delta), renumbers
lineage bookkeeping to the consolidated batch, and records the compaction as
a lineage event.  Query results are unchanged (same rows, same layout); the
reference has no analog because its index is a single serial file — this is
the maintenance operation its model never needs but a distributed
commit-log layout does.

Crash safety AND snapshot isolation via generation directories (r4: the
previous protocol renamed the live table trees into place, which was
crash-safe behind a write-ahead swap marker but broke readers whose Spark
plans had already resolved file paths under the old trees — the ADVICE-r3
serve-while-ingest FileNotFound window):

1. consolidated trees are staged per table as the table's NEXT generation
   (``<table>.gN`` — see ``IndexLayout.table_path``) with the live index
   untouched (heavy, restartable);
2. ONE atomic manifest write flips the per-table ``generations`` pointers
   and carries every dependent bookkeeping update (delta-finalize fold
   re-pin, post-purge doc counts, tombstone clear) — this is the commit
   point, the local-parquet analog of an Iceberg snapshot commit.  There
   is no multi-step swap and therefore no swap marker: a crash before the
   write leaves the staged trees unreferenced (discarded by recovery); a
   crash after it leaves a fully consistent index.
3. the PREVIOUS generation is retained on disk (``retain_previous=True``),
   so a live ``Searcher`` — or any reader mid-scan — keeps reading the
   files its plan resolved; its next search detects the manifest change
   and refreshes onto the new generation (``Searcher._check_fresh``).
   Storage is bounded at <= 2 generations; ``expire_generations`` (or the
   next compaction) removes older trees, like Iceberg's expire_snapshots.

Recovery (``recover_compaction``) discards staged generations NEWER than
the manifest's committed pointer — leftovers of an uncommitted run.
``build_index(append=True)`` runs this sweep before touching the index, so
a crashed compaction can never alias batch numbers against stale lineage
(staged trees are invisible to ``next_batch``/``read_commits``, which
resolve through the committed pointer).
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import time

from pysearch.lineage import TABLES, IndexLayout


def recover_compaction(layout: IndexLayout) -> str | None:
    """Discard staged-but-uncommitted compaction generations (trees newer
    than the manifest's committed pointer).  Returns ``"discarded"`` or
    ``None`` (nothing to do).  Committed state is never touched — the
    atomic manifest write either happened (index fully consistent) or it
    didn't (staged trees unreferenced).  Safe to call any time; append and
    streaming ingestion call it before touching the index."""
    dropped = False
    for name in TABLES:
        cur = int(layout._generations().get(name, 0))
        for gen, path in layout.generation_paths(name).items():
            if gen > cur:
                shutil.rmtree(path, ignore_errors=True)
                dropped = True
    return "discarded" if dropped else None


def expire_generations(layout: IndexLayout,
                       keep: int | None = None) -> list[str]:
    """Remove retained PRE-current generation trees (Iceberg
    expire_snapshots analog).  ``keep`` retains the single generation with
    that exact NUMBER per table when it is below current — one int across
    all tables, which only pins a coherent snapshot while every table sits
    at the same generation number (independent stats rotations desync
    them; after that, use the default bounded retention or a full sweep).
    compact_index does NOT call this — it applies its own inline
    2-generation retention at commit time; this is the standalone
    maintenance-window sweep.  Returns the removed paths.  Run without
    ``keep`` to drop storage to exactly one generation per table."""
    removed = []
    for name in TABLES:
        cur = int(layout._generations().get(name, 0))
        for gen, path in layout.generation_paths(name).items():
            if gen < cur and gen != keep:
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
    prune_dangling_snapshots(layout)
    return removed


def prune_dangling_snapshots(layout: IndexLayout) -> list[int]:
    """Delete archived snapshot manifests whose referenced generation
    trees or commit batches no longer exist (their data was expired by the
    retention sweep / ``expire_generations``) — so ``snapshots()`` never
    advertises an unreadable version.  Returns the pruned version numbers.
    This is the inverse of Iceberg's expire_snapshots ordering (there,
    snapshot expiry drives data GC); with bounded 2-generation retention
    as the default, data expiry drives snapshot pruning instead."""
    import json

    pruned = []
    for v in layout.snapshots():
        p = f"{layout.manifest_path}.v{v}"
        try:
            with open(p) as f:
                snap = json.load(f)
        except ValueError:
            # corrupt JSON: the archive is unreadable by construction
            try:
                os.remove(p)
                pruned.append(v)
            except OSError:
                pass  # removal blocked: retry on the next sweep
            continue
        except OSError:
            # transient read failure (EACCES/EMFILE/...) says nothing about
            # the snapshot's validity — skip, never delete on it
            continue
        gens = snap.get("generations", {})
        ok = True
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
            if not set(int(b) for b in batches) <= have:
                ok = False
                break
        if not ok:
            try:
                os.remove(p)
            except OSError:
                continue  # removal blocked: still advertised, retry later
            pruned.append(v)
    return pruned


def check_consistent(spark, layout: IndexLayout) -> None:
    """Fail fast when lineage references postings batches absent on disk
    (r2 ADVICE: a half-recovered state silently mis-drives orphan GC and
    resume).  Run AFTER recover_compaction; raises with a repair hint."""
    commits = {
        int(os.path.basename(d).split("-", 1)[1])
        for d in layout.list_commits(layout.postings)
    }
    lin = layout.read_lineage(spark)
    covered = {
        int(r["batch"])
        for r in lin.filter(lin.stage == "postings")
        .select("batch").distinct().collect()
    }
    missing = covered - commits
    if missing:
        raise RuntimeError(
            f"lineage references postings batches {sorted(missing)} absent "
            f"on disk at {layout.postings} — index is inconsistent; run "
            "compact_index (recovery sweep) or restore the missing commits "
            "before appending"
        )


def _purge_blocks_transform(tomb_by_case: dict):
    """mapInPandas transform: decode each posting block, drop tombstoned
    doc_ids, re-encode (payloads + per-block metadata + CRCs).  Per-BLOCK
    Python loop (<=128 postings each, same granularity as the query path's
    CRC loop); the delete set ships once per task and the membership test
    is a vectorized np.isin.  Blocks wholly untouched by the delete set
    pass through byte-identical (range fast-path, no decode)."""
    import numpy as np
    import pandas as pd

    from pysearch import codec
    from pysearch.schema import POSTING_BLOCKS

    cols = [f.name for f in POSTING_BLOCKS.fields]

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {c: [] for c in cols}

            def emit(vals: dict):
                for c in cols:
                    out[c].append(vals[c])

            for row in pdf.to_dict("records"):
                excl = tomb_by_case.get(str(row["case_id"]))
                if (excl is None or row["max_doc_id"] < excl[0]
                        or row["min_doc_id"] > excl[-1]):
                    emit(row)
                    continue
                ids, tfs, dls = codec.unpack_block(
                    int(row["n"]), row["doc_ids_bin"], row["tfs_bin"],
                    row["dls_bin"])
                keep = np.isin(ids, excl, assume_unique=True, invert=True)
                if keep.all():
                    emit(row)
                    continue
                if not keep.any():
                    continue  # every posting deleted -> drop the block row
                pos = None
                if row["pos_bin"] is not None:
                    pos = codec.unpack_positions_batch(
                        tfs, [row["pos_bin"]])[np.repeat(keep, tfs)]
                emit({**row, **codec.pack_block(ids[keep], tfs[keep],
                                                dls[keep], pos)})
            yield pd.DataFrame(out, columns=cols)

    return run


def compact_index(spark, index_dir: str,
                  retain_previous: bool = True,
                  keep_snapshots: int = 16) -> dict:
    """Consolidate every multi-commit table of a COMPLETE index, and
    physically PURGE any pending tombstoned deletes (delete.delete_docs).

    Returns ``{table: n_commits_before}`` for the tables rewritten —
    including a ``"lineage"`` entry when only the lineage table needed
    consolidation, and ``"purged_docs"`` when a delete set was applied
    (empty dict == nothing to do at all).  Raises if the index is
    incomplete — compacting mid-build would race the builder's resume
    bookkeeping.

    The rewrite commits as a generation flip (one atomic manifest write;
    module docstring).  ``retain_previous=True`` (default) keeps the
    superseded generation on disk so concurrent readers' resolved plans
    keep working — compaction is safe under live Searchers; pass False (or
    run ``expire_generations`` later) to drop to one generation per table.

    The purge rewrites docs/doc_map without the deleted rows, re-encodes
    posting blocks without the deleted ids, recomputes term_stats AND
    corpus_stats exactly from the purged blocks (the same arithmetic as a
    fresh build's finalize, so post-purge scores are bit-identical to a
    fresh build of the surviving corpus — pinned by test), re-pins the
    manifest's per-case doc counts, and empties the tombstones table — all
    carried by the same single manifest commit."""
    from pyspark.sql import functions as F

    from pysearch.build import (_block_frame, _corpus_stats_of,
                                _term_stats_of, _write_term_stats)
    from pysearch.schema import DOCS, POSTING_BLOCKS, TERM_STATS

    layout = IndexLayout(index_dir)
    recover_compaction(layout)
    if not layout.stage_done("finalize"):
        raise RuntimeError(f"index at {index_dir} is not complete")

    tomb = layout.read_tombstones(spark) if layout.list_commits(
        layout.tombstones) else None
    tomb_pdf = tomb.toPandas() if tomb is not None else None
    purge = tomb_pdf is not None and len(tomb_pdf) > 0

    gens = dict(layout._generations())

    def _stage_root(name: str) -> str:
        """Commit-00000 target inside ``name``'s NEXT generation tree."""
        return os.path.join(
            layout.table_path(name, int(gens.get(name, 0)) + 1),
            "commit-00000")

    # per table: schema, partition columns, within-partition sort (mirrors
    # the build's write layout so parquet row-group pruning keeps working)
    plan = {}
    for name, schema, parts, sort in (
        ("docs", DOCS, ["case_id"], ["doc_id"]),
        ("doc_map", None, ["case_id"], ["doc_id"]),
        ("postings", POSTING_BLOCKS, ["term_bucket"],
         ["case_id", "term", "segment_id", "block_id"]),
    ):
        n = len(layout.list_commits(layout.table_path(name)))
        if n > 1 or purge:
            plan[name] = (schema, parts, sort, n)
    n_tstats = len(layout.list_commits(layout.term_stats))
    n_lineage = len(layout.list_commits(layout.lineage))
    if not plan and n_tstats <= 1 and n_lineage <= 1:
        return {}

    t0 = time.time()
    import numpy as np

    tomb_by_case = {}
    if purge:
        for cid, grp in tomb_pdf.groupby("case_id"):
            tomb_by_case[str(cid)] = np.unique(
                grp["doc_id"].to_numpy(np.int64))

    # 1. stage consolidated trees as next-generation dirs (heavy,
    #    restartable, live index untouched and still fully readable)
    for name, (schema, parts, sort, _n) in plan.items():
        df = layout.read_commits(spark, layout.table_path(name),
                                 schema=schema)
        if purge:
            if name == "postings":
                df = df.mapInPandas(_purge_blocks_transform(tomb_by_case),
                                    schema=POSTING_BLOCKS)
            else:
                anti = spark.createDataFrame(tomb_pdf)
                df = df.withColumn(
                    "case_id", F.col("case_id").cast("string")
                ).join(F.broadcast(anti), ["case_id", "doc_id"], "left_anti")
        (
            df.repartition(*parts)
            .sortWithinPartitions(*parts, *sort)
            .write.mode("overwrite")
            .partitionBy(*parts)
            .parquet(_stage_root(name))
        )
    counts = None
    if purge:
        # exact stats recompute from the PURGED blocks through the fresh
        # build's own stats helpers (df=sum n, cf=sum sum_tf; sum_dl = sum
        # sum_tf per case; avgdl = sum_dl / n_docs), so a fresh build of
        # the surviving corpus produces bit-identical scores
        staged = _block_frame(spark.read.parquet(_stage_root("postings")))
        _write_term_stats(_term_stats_of(staged), _stage_root("term_stats"))
        staged_docs = spark.read.parquet(
            _stage_root("docs")
        ).withColumn("case_id", F.col("case_id").cast("string"))
        counts = {
            str(r["case_id"]): int(r["n"]) for r in
            staged_docs.groupBy("case_id").agg(
                F.count("*").alias("n")).collect()
        }
        n_per_case = spark.createDataFrame(
            [(k, v) for k, v in counts.items()],
            schema="case_id string, n_docs long")
        _corpus_stats_of(n_per_case, staged, "sum_tf").coalesce(
            1).write.mode("overwrite").parquet(_stage_root("corpus_stats"))
        # empty next-generation tombstones tree: the flip installs a
        # commit-less table, i.e. "no pending deletes"
        os.makedirs(layout.table_path(
            "tombstones", int(gens.get("tombstones", 0)) + 1), exist_ok=True)
    elif n_tstats > 1:
        # delta finalize appends one stats commit per postings batch; the
        # consolidated table SUMS them (df/cf are additive per term)
        ts = layout.read_commits(spark, layout.term_stats, schema=TERM_STATS)
        _write_term_stats(
            ts.groupBy("case_id", "term", "term_bucket")
            .agg(F.sum("df").cast("long").alias("df"),
                 F.sum("cf").cast("long").alias("cf"))
            .select("case_id", "term", "term_bucket", "df", "cf"),
            _stage_root("term_stats"))

    # 2. consolidated lineage: same history, but done docs/postings rows
    #    renumbered to the consolidated batch 0 so commit<->lineage coverage
    #    (verify_index, orphan GC, resume) stays exact.  The compaction
    #    event rides in the same single commit, so a compacted index has
    #    exactly one lineage commit and re-running is a clean no-op.
    from pysearch.schema import LINEAGE

    lin = layout.read_lineage(spark)
    remapped = lin.withColumn(
        "batch",
        F.when(
            lin.stage.isin("docs", "postings") & (lin.status == "done"),
            F.lit(0),
        ).otherwise(lin.batch).cast("int"),
    )
    event = spark.createDataFrame([(
        "compact", "all", 0, "done",
        sum(n for _, _, _, n in plan.values()), None, None,
        time.time() - t0, _dt.datetime.now(_dt.timezone.utc),
    )], schema=LINEAGE)
    remapped.unionByName(event).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_stage_root("lineage"))
    )

    # 3. commit point: ONE atomic manifest write flips every rewritten
    #    table's generation pointer and applies all dependent bookkeeping.
    #    Before it, the staged trees are unreferenced (recovery discards
    #    them); after it, the index is fully consistent — no intermediate
    #    state exists, so no write-ahead marker is needed.
    bumped = list(plan) + ["lineage"]
    if purge:
        bumped += ["term_stats", "corpus_stats", "tombstones"]
    elif n_tstats > 1:
        bumped.append("term_stats")
    old_gen = {name: int(gens.get(name, 0)) for name in bumped}
    m = layout.read_manifest()
    mgens = m.setdefault("generations", {})
    for name in bumped:
        mgens[name] = old_gen[name] + 1
    if purge:
        docs_stage = m.setdefault("stages", {}).setdefault("docs", {})
        docs_stage["case_counts"] = counts
        docs_stage["n_docs"] = sum(counts.values())
        m.pop("tombstones", None)
    fin = m.get("stages", {}).get("finalize")
    if fin and fin.get("done"):
        # postings were renumbered to the consolidated batch 0, so the
        # delta-finalize fold set must reference only it (same write — a
        # stale fold set could never pair with the new generation)
        fin["folded"] = [0]
    layout.commit_snapshot(m)  # atomic flip + time-travel archive

    # 4. retention: keep each table's current generation plus the highest
    #    one below it (the snapshot in-flight readers may still be
    #    scanning); drop anything older.  Swept over ALL tables, not just
    #    the ones this compaction rewrote — appends rotate corpus_stats to
    #    a new generation per finalize (time-travel correctness), so the
    #    compaction is also where that accumulation gets bounded.  With
    #    retain_previous=False exactly one generation per table survives.
    for name in TABLES:
        gens_on_disk = layout.generation_paths(name)
        cur = int(layout._generations().get(name, 0))
        below = [g for g in gens_on_disk if g < cur]
        keep = {cur}
        if retain_previous and below:
            keep.add(max(below))
        for g, p in gens_on_disk.items():
            if g not in keep:
                shutil.rmtree(p, ignore_errors=True)
    prune_dangling_snapshots(layout)
    # bound the archived-manifest count on long append/compact streams
    # (each micro-batch commit archives one): keep the newest
    # ``keep_snapshots`` time-travelable versions, drop older manifests
    # (their data may live on in the retained generations regardless)
    vs = layout.snapshots()
    if keep_snapshots and len(vs) > keep_snapshots:
        for v in vs[:-keep_snapshots]:
            os.remove(f"{layout.manifest_path}.v{v}")

    out = {name: n for name, (_s, _p, _sort, n) in plan.items()}
    if n_tstats > 1:
        out["term_stats"] = n_tstats
    if purge:
        out["purged_docs"] = int(len(tomb_pdf))
    if not out and n_lineage > 1:
        # lineage-only consolidation still rewrote a table — report it
        # (r2 ADVICE: '{}' here read as "nothing to compact" in the CLI)
        out["lineage"] = n_lineage
    return out
