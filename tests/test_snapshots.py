"""Snapshot isolation for readers across compaction (pysearch/compact.py).

r3-ADVICE operational defect: the old compaction protocol renamed the live
table trees into place, so a Searcher whose Spark plans had already
resolved file paths (its cached DataFrames) hit FileNotFound when a
compaction ran underneath it.  The r4 snapshot protocol commits a
compaction as an atomic per-table generation flip and RETAINS the
superseded generation, so:

- a Searcher pinned to the pre-compaction snapshot (``on_stale="ignore"``)
  keeps answering queries — identical results — right through and after
  the compaction (the files its plans resolved still exist);
- a default Searcher detects the manifest change and refreshes onto the
  new generation, with identical results (compaction is a no-op on query
  semantics);
- ``expire_generations`` (maintenance window) removes the retained trees,
  after which only the pinned reader's snapshot is gone — never the live
  index.

This is the Iceberg snapshot-commit + expire_snapshots model re-expressed
over local parquet; the reference never needs it because its index is a
single serial file rewritten wholesale (doclib).
"""

import os

from pysearch import corpus
from pysearch.build import build_index
from pysearch.compact import compact_index, expire_generations
from pysearch.lineage import IndexLayout
from pysearch.query import Searcher


def _ids(hits):
    return [(int(r.doc_id), float(r.score)) for r in hits.itertuples()]


def test_reader_survives_compaction_and_expiry(spark, tmp_path):
    d = str(tmp_path / "snap_ix")
    cases = [(6, "in the realm of", 120, 160)]
    build_index(spark, corpus.webtext_df(spark, cases=cases), d,
                segment_size=32)
    # two appends -> multi-commit tables, so compaction has work to do
    build_index(spark, corpus.webtext_df(
        spark, cases=[(4, "heavenly intentions", 80, 120)]), d, append=True)
    build_index(spark, corpus.webtext_df(
        spark, cases=[(2, "wandering stars", 60, 100)]), d, append=True)

    lay = IndexLayout(d)
    assert len(lay.list_commits(lay.postings)) >= 2

    pinned = Searcher(spark, d, on_stale="ignore")  # snapshot-pinned
    live = Searcher(spark, d)  # on_stale="refresh" (default)
    q = ("in the realm of", "6")
    before = _ids(pinned.search_ids(q[0], k=25, case_id=q[1]))
    assert before

    done = compact_index(spark, d)  # retain_previous=True default
    assert done  # it rewrote tables

    # the pinned reader's resolved plans still work, identical results —
    # under the old rename protocol this raised FileNotFoundError
    assert _ids(pinned.search_ids(q[0], k=25, case_id=q[1])) == before
    # pinned means pinned: its postings frame still reads generation-0 dirs
    assert ".g" not in os.path.relpath(
        pinned.postings.inputFiles()[0], lay.root).split(os.sep)[0]

    # the live reader refreshes onto the new generation, same results
    assert live.stale()
    assert _ids(live.search_ids(q[0], k=25, case_id=q[1])) == before
    assert not live.stale()
    assert lay.postings.endswith(".g1")

    # storage is bounded at <= 2 generations; expiry drops to 1
    assert set(lay.generation_paths("postings")) == {0, 1}
    removed = expire_generations(lay)
    assert removed
    assert set(lay.generation_paths("postings")) == {1}

    # the live reader is unaffected by expiry; a fresh reader too
    assert _ids(live.search_ids(q[0], k=25, case_id=q[1])) == before
    assert _ids(Searcher(spark, d).search_ids(
        q[0], k=25, case_id=q[1])) == before


def test_time_travel_reads(spark, tmp_path):
    """Every mutation commit point (build/append finalize, delete_docs,
    compact purge) archives a numbered snapshot; ``Searcher(...,
    at_version=N)`` sees exactly that state — appends/deletes/compactions
    since are invisible — and pinned layouts refuse writes."""
    import pytest

    from pysearch.delete import delete_docs

    d = str(tmp_path / "tt_ix")
    build_index(spark, corpus.webtext_df(
        spark, cases=[(6, "in the realm of", 90, 140)]), d, segment_size=32)
    lay = IndexLayout(d)
    assert lay.snapshots() == [1]
    q = lambda s: _ids(s.search_ids("in the realm of", k=300, case_id="6"))
    v1_live = q(Searcher(spark, d))

    build_index(spark, corpus.webtext_df(
        spark, cases=[(6, "in the realm of", 150, 140)]), d, append=True)
    assert lay.snapshots() == [1, 2]
    v2_live = q(Searcher(spark, d))
    assert v2_live != v1_live  # the append changed the corpus

    # v1 time-travel: identical to the pre-append answer
    s1 = Searcher(spark, d, at_version=1)
    assert q(s1) == v1_live
    # and stays pinned even as the index mutates further
    assert delete_docs(spark, d, predicate="doc_id % 3 = 0",
                       case_id="6") > 0
    assert lay.snapshots() == [1, 2, 3]
    assert q(s1) == v1_live
    assert q(Searcher(spark, d, at_version=2)) == v2_live
    v3_live = q(Searcher(spark, d))
    assert len(v3_live) < len(v2_live)  # deletes suppressed
    assert q(Searcher(spark, d, at_version=3)) == v3_live

    # the compaction purge is itself a snapshot.  Its retention sweep
    # keeps each table's top-2 generations, and every earlier snapshot
    # (its corpus stats live in its archived manifest) references only the
    # retained generation 0, so v1-v3 all stay listed and readable
    compact_index(spark, d)
    assert lay.snapshots() == [1, 2, 3, 4]
    # v4 is the post-purge state: same surviving docs as v3 but stats
    # recomputed over the survivors (== fresh build; the delete tests pin
    # that), so compare against the live post-compaction answer
    v4_live = q(Searcher(spark, d))
    assert q(Searcher(spark, d, at_version=4)) == v4_live
    assert sorted(i for i, _ in v4_live) == sorted(i for i, _ in v3_live)
    assert q(Searcher(spark, d, at_version=2)) == v2_live
    assert q(Searcher(spark, d, at_version=3)) == v3_live
    assert q(s1) == v1_live
    assert q(Searcher(spark, d, at_version=1)) == v1_live

    # pinned layouts are read-only
    pinned = IndexLayout(d, at_version=2)
    with pytest.raises(RuntimeError, match="read-only"):
        pinned.write_manifest({})
    with pytest.raises(RuntimeError, match="read-only"):
        pinned.commit_batch("/nonexistent", pinned.docs, 99)
    # unknown version: clear error naming the available ones
    with pytest.raises(FileNotFoundError, match="available"):
        IndexLayout(d, at_version=99)


def test_compact_no_retain_drops_superseded_generation(spark, tmp_path):
    d = str(tmp_path / "snap_ix2")
    build_index(spark, corpus.webtext_df(
        spark, cases=[(6, "in the realm of", 60, 120)]), d, segment_size=32)
    build_index(spark, corpus.webtext_df(
        spark, cases=[(4, "heavenly intentions", 40, 100)]), d, append=True)
    lay = IndexLayout(d)
    compact_index(spark, d, retain_previous=False)
    assert set(lay.generation_paths("postings")) == {1}
    assert len(Searcher(spark, d).search_ids(
        "in the realm of", k=5, case_id="6")) == 5


def test_serve_while_ingest(spark, tmp_path):
    """The full ADVICE-r3 scenario, end-to-end: continuous micro-batch
    ingestion with AUTO-COMPACTION enabled while readers query between
    every epoch.  The long-lived default Searcher must answer after every
    epoch (refreshing through appends AND compactions, never an error);
    a snapshot-pinned Searcher must keep serving identical results through
    the first compaction (superseded generation retained), and recover via
    refresh() once a second compaction expires its generation.  Final
    ranks match a one-shot batch build of the whole corpus."""
    from pyspark.sql import functions as F

    from pysearch.streaming import foreach_batch_indexer

    df = corpus.webtext_df(spark, cases=[(6, "in the realm of", 120, 160)])
    chunks = [
        df.filter(F.col("url").between(
            f"doc://6/{lo:04d}", f"doc://6/{hi:04d}"))
        for lo, hi in [(1, 20), (21, 40), (41, 60),
                       (61, 80), (81, 100), (101, 120)]
    ]
    ix = str(tmp_path / "swi_ix")
    handler = foreach_batch_indexer(ix, segment_size=16, compact_every=2)
    lay = IndexLayout(ix)

    def gen_postings():
        return int(lay._generations().get("postings", 0))

    handler(chunks[0], 0)
    live = Searcher(spark, ix)  # on_stale="refresh"
    seen = [len(live.search_ids("in the realm of", k=200, case_id="6"))]

    handler(chunks[1], 1)
    assert live.stale()
    seen.append(len(live.search_ids("in the realm of", k=200, case_id="6")))

    pinned = Searcher(spark, ix, on_stale="ignore")
    snap = _ids(pinned.search_ids("in the realm of", k=200, case_id="6"))

    handler(chunks[2], 2)  # 3 postings commits > 2 -> auto-compaction
    assert gen_postings() == 1
    # pinned reader serves identical results THROUGH the compaction
    assert _ids(pinned.search_ids(
        "in the realm of", k=200, case_id="6")) == snap
    seen.append(len(live.search_ids("in the realm of", k=200, case_id="6")))

    for i, c in enumerate(chunks[3:], start=3):
        handler(c, i)
        seen.append(len(live.search_ids(
            "in the realm of", k=200, case_id="6")))
    assert gen_postings() >= 2  # a second auto-compaction ran
    # counts grow monotonically: every epoch's docs become searchable
    assert seen == sorted(seen) and seen[-1] > seen[0]

    # the pinned reader's generation is expired now; explicit refresh
    # brings it to the live state (never a silent wrong answer)
    assert pinned.stale()
    pinned.refresh()
    assert _ids(pinned.search_ids("in the realm of", k=200, case_id="6")) \
        == _ids(live.search_ids("in the realm of", k=200, case_id="6"))

    # equivalence with a one-shot batch build of the whole corpus
    ix2 = str(tmp_path / "swi_oneshot")
    build_index(spark, df, ix2, segment_size=16)
    fresh = Searcher(spark, ix2).search_ids(
        "in the realm of", k=200, case_id="6")
    got = live.search_ids("in the realm of", k=200, case_id="6")
    assert sorted(got["score"]) == sorted(fresh["score"])


def test_second_compaction_expires_grandparent(spark, tmp_path):
    """retain_previous keeps exactly one superseded generation: the next
    compaction's retention step removes the grandparent, bounding storage
    at 2 generations on a long-running append+compact stream."""
    d = str(tmp_path / "snap_ix3")
    build_index(spark, corpus.webtext_df(
        spark, cases=[(6, "in the realm of", 60, 120)]), d, segment_size=32)
    build_index(spark, corpus.webtext_df(
        spark, cases=[(4, "heavenly intentions", 40, 100)]), d, append=True)
    lay = IndexLayout(d)
    compact_index(spark, d)
    assert set(lay.generation_paths("postings")) == {0, 1}
    build_index(spark, corpus.webtext_df(
        spark, cases=[(2, "wandering stars", 30, 90)]), d, append=True)
    compact_index(spark, d)
    assert set(lay.generation_paths("postings")) == {1, 2}
    hits = Searcher(spark, d).search_ids("wandering", k=5, case_id="2")
    assert len(hits) == 5
