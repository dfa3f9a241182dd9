"""Tombstoned document deletes — remove docs from a built index without a
full rebuild.

The training-data operation the reference never needed (its index is a
single-corpus artifact, rebuilt per corpus — doclib has no delete API):
contaminated / opted-out / DMCA'd documents must disappear from a 100 TB
index NOW, and be physically gone after the next maintenance window.
Lucene's two-phase deleted-docs model, re-expressed over this engine's
commit-batch tables:

1. ``delete_docs`` resolves the target (case_id, doc_id) set (by url list
   or by SQL predicate over the docs table), appends it to a ``tombstones``
   table (atomic commit batches like every other table), and bumps the
   manifest — live ``Searcher``s detect the change via the staleness guard
   and stop returning the deleted docs immediately.  Corpus-level stats
   (df, n_docs, avgdl) intentionally keep their pre-delete values until
   compaction, exactly like Lucene deleted docs (suppressed at search,
   stats corrected at merge); the surviving docs' scores are therefore
   UNCHANGED by a pending delete (pinned by test).
2. ``compact.compact_index`` physically purges: filters docs/doc_map,
   decodes + re-encodes posting blocks without the deleted ids, recomputes
   term_stats and the manifest's per-case doc counts and summed doc
   lengths exactly, and empties the tombstones table — all committed as
   one atomic snapshot generation flip (compact.py).  After the purge,
   ranks AND scores are bit-identical to a fresh build of the surviving
   corpus (pinned by test).

Scale shape: the tombstone set is O(deletes since last compaction) — the
query path ships it to executors once per job and drops deleted ids with a
vectorized ``np.isin`` after block decode (no join, no shuffle); the
compaction purge is one decode→filter→re-encode ``mapInPandas`` pass over
posting blocks with the delete set broadcast.  Operate like Lucene: compact
before the pending-delete set grows past a small fraction of the index.

Caveat (documented, matches Lucene): a deleted url cannot be re-appended
until a compaction physically removes the old row — append's url/content
dedupe still sees the tombstoned doc in the docs table.
"""

from __future__ import annotations

import datetime as _dt
import time

from pysearch.lineage import IndexLayout, footer_rows, tombstone_frame


def delete_docs(spark, index_dir: str, *, urls: list[str] | None = None,
                predicate: str | None = None,
                case_id: str | None = None) -> int:
    """Tombstone documents of a COMPLETE index; returns how many docs were
    newly marked (already-tombstoned docs are not double-counted).

    Exactly one of ``urls`` (list of catalog urls) or ``predicate`` (a SQL
    boolean expression over the docs table's columns: case_id, doc_id, url,
    content_hash, text) selects the targets; ``case_id`` optionally
    restricts either form to one case.  The delete itself is O(delete set):
    one filtered scan of the catalog (doc_map for urls — no text read) or
    the docs table (predicate), one small parquet commit, one manifest
    bump."""
    from pyspark.sql import functions as F

    from pysearch.compact import recover_compaction

    if (urls is None) == (predicate is None):
        raise ValueError("pass exactly one of urls= or predicate=")
    layout = IndexLayout(index_dir)
    recover_compaction(layout)
    if not layout.stage_done("finalize"):
        raise RuntimeError(f"index at {index_dir} is not complete")

    t0 = time.time()
    if urls is not None:
        # catalog-only scan: doc_map carries (case_id, doc_id, url) without
        # document bodies
        base = layout.read_commits(spark, layout.doc_map).select(
            "case_id", "doc_id", "url")
        targets = base.filter(F.col("url").isin(list(urls)))
    else:
        base = layout.read_commits(spark, layout.docs).select(
            "case_id", "doc_id", "url", "content_hash", "text")
        targets = base.filter(F.expr(predicate))
    if case_id is not None:
        targets = targets.filter(F.col("case_id") == str(case_id))
    targets = targets.select("case_id", "doc_id").distinct()

    # don't re-tombstone docs already marked (keeps the table minimal and
    # the returned count meaningful on repeated calls)
    n_pending, by_case = layout.pending_deletes()
    if n_pending:
        targets = targets.join(tombstone_frame(spark, by_case),
                               ["case_id", "doc_id"], "left_anti")

    staging = layout.staging_dir("tombstones")
    targets.coalesce(1).write.mode("overwrite").parquet(staging)
    n = footer_rows(staging)
    if n == 0:
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        return 0
    layout.commit_batch(staging, layout.tombstones,
                        layout.next_batch(layout.tombstones))
    layout.append_lineage(spark, [{
        "stage": "delete", "partition_key": "tombstones",
        "batch": 0, "status": "done", "n_rows": n,
        "wall_sec": time.time() - t0,
    }])
    # manifest bump = the staleness signal live Searchers key on; the
    # snapshot commit also archives this state for time-travel reads
    m = layout.read_manifest()
    tomb = m.setdefault("tombstones", {})
    tomb["pending"] = int(tomb.get("pending", 0)) + n
    tomb["ts"] = _dt.datetime.now(_dt.timezone.utc).isoformat()
    layout.commit_snapshot(m)
    return n
