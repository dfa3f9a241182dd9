"""Pins for the driver-direct arrow block fetch (query._read_blocks_arrow):
the fetched frame must be byte-identical to the Spark scan-only fetch over
the same commit dirs/filters, and every local-path mode must return the
same results through the arrow fetch as a forced-distributed Searcher
(local_max_postings=0) — search()'s span positions included."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    """Case-7 index WITH positions so phrase/near exercise the pos-bearing
    arrow fetch too."""
    from pysearch import corpus
    from pysearch.build import build_index
    from pysearch.query import Searcher

    d = str(tmp_path_factory.mktemp("arrow_ix") / "ix")
    df = corpus.webtext_df(spark, cases=[c for c in corpus.CASES
                                         if c[0] == 7])
    build_index(spark, df, d, segment_size=64, store_positions=True)
    return Searcher(spark, d)


@pytest.fixture(scope="module")
def dist_searcher(spark, searcher):
    from pysearch.query import Searcher

    s = Searcher(spark, searcher.layout.root)
    s.local_max_postings = 0  # every driver-local path off
    return s


def test_arrow_fetch_bytes_match_spark(spark, searcher):
    from pyspark.sql import functions as F

    from pysearch.build import term_bucket
    from pysearch.query import Searcher

    s = searcher
    terms = sorted(s._analyze("a cornucopia of"))
    buckets = sorted({term_bucket(t, s.n_buckets) for t in terms})
    for cols in (Searcher._LOCAL_COLS, Searcher._LOCAL_COLS_POS):
        blocks = s.postings.filter(
            (F.col("case_id") == "7")
            & F.col("term_bucket").isin(buckets)
            & F.col("term").isin(terms))
        a = blocks.select(*cols).toPandas()
        b = s._read_blocks_arrow("7", terms, cols)
        key = ["segment_id", "term", "n"]
        a = a.sort_values(key, kind="stable").reset_index(drop=True)
        b = b.sort_values(key, kind="stable").reset_index(drop=True)
        assert len(a) == len(b) > 0
        for c in cols:
            av, bv = a[c], b[c]
            if c.endswith("_bin"):
                assert all((y is None) if x is None
                           else bytes(x) == bytes(y)
                           for x, y in zip(av, bv)), c
            else:
                ok = (av == bv) | (av.isna() & bv.isna())
                assert ok.all(), c


@pytest.mark.parametrize("query,mode", [
    ("a cornucopia of", "any"),
    ("a cornucopia of", "all"),
    ("a cornucopia of", "phrase"),
    ('"a cornucopia" ~3', None),  # parsed near via search_ids default
])
def test_local_results_identical_with_arrow_on_off(
        searcher, dist_searcher, query, mode):
    kw = {"k": 10, "case_id": "7"}
    if mode is not None:
        kw["mode"] = mode
    on = searcher.search_ids(query, **kw)
    off = dist_searcher.search_ids(query, **kw)
    assert on.equals(off)
    assert len(on) > 0


def test_count_and_batch_identical_with_arrow_on_off(searcher, dist_searcher):
    qs = {"a": "cornucopia", "b": "a cornucopia of"}
    c_on = searcher.count("a cornucopia of", case_id="7")
    m_on = searcher.search_ids_many(qs, k=5, case_id="7")
    c_off = dist_searcher.count("a cornucopia of", case_id="7")
    m_off = dist_searcher.search_ids_many(qs, k=5, case_id="7")
    assert c_on == c_off > 0
    assert m_on.equals(m_off)


@pytest.mark.parametrize("query,mode", [
    ("a cornucopia of", "any"),
    ("a cornucopia of", "phrase"),
])
def test_span_positions_identical_with_arrow_on_off(
        spark, searcher, dist_searcher, query, mode):
    """search()'s index positions come from a driver arrow read under the
    local gate (no Spark job) and from a Spark scan with the driver-local
    paths off; spans and matches are identical."""
    hits = searcher.search_ids(query, k=10, case_id="7", mode=mode)
    ids = [int(i) for i in hits["doc_id"]]
    terms = sorted(set(searcher._analyze(query)))
    sc = spark.sparkContext
    sc.setJobGroup("hit-positions", "hit-positions")
    try:
        on = searcher._hit_positions("7", terms, ids)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("hit-positions") == []
    assert on == dist_searcher._hit_positions("7", terms, ids)
    assert set(on) == set(ids)
    m_on = searcher.search(query, k=10, case_id="7", mode=mode).collect()
    m_off = dist_searcher.search(query, k=10, case_id="7", mode=mode).collect()
    assert [r.asDict(recursive=True) for r in m_on] == \
        [r.asDict(recursive=True) for r in m_off]
    assert m_on and all(r["spans"] for r in m_on)


def test_segment_metrics_local_matches_spark(spark, searcher, monkeypatch):
    """The driver-side pyarrow lineage-metrics aggregate must produce the
    same per-(case, segment) sums as the distributed groupBy it replaces."""
    from pyspark.sql import functions as F

    from pysearch.build import _segment_metrics_local

    commit_dir = searcher._postings_commit_dirs[0]
    local = _segment_metrics_local(commit_dir)
    assert local is not None and len(local) > 0
    spark_rows = (
        spark.read.parquet(commit_dir)
        .groupBy("case_id", "segment_id")
        .agg(F.count("*").alias("n_blocks"), F.sum("n").alias("n_postings"),
             F.sum("n_bytes").alias("bytes"))
        .collect()
    )
    a = sorted((str(r.case_id), int(r.segment_id), int(r.n_blocks),
                int(r.n_postings), int(r.bytes)) for r in local)
    b = sorted((str(r.case_id), int(r.segment_id), int(r.n_blocks),
                int(r.n_postings), int(r.bytes)) for r in spark_rows)
    assert a == b
    # a zero row gate falls back to the distributed path
    monkeypatch.setattr("pysearch.gate.METRICS_LOCAL_MAX_BLOCKS", 0)
    assert _segment_metrics_local(commit_dir) is None
