"""Driver-local small-volume scoring fast path (r6 optimization): results
must be bit-identical to the distributed path across every query mode —
same decode, same per-segment kernels, same merge order — and the
size-gated union-find in dup_clusters must label components identically to
the distributed pointer-jumping path."""

import random

import pytest

from pysearch.query import Searcher


@pytest.fixture(scope="module")
def pos_index(spark):
    """Small positions-enabled index so phrase/near modes are testable."""
    import shutil

    from pysearch import corpus
    from pysearch.build import build_index

    index_dir = "/tmp/pysearch_test_index_localpath"
    shutil.rmtree(index_dir, ignore_errors=True)
    df = corpus.webtext_df(spark, cases=[(7, "a cornucopia of", 1200, 200)])
    build_index(spark, df, index_dir, segment_size=128,
                store_positions=True)
    return index_dir


@pytest.fixture()
def two_paths(spark, pos_index):
    """(local-path searcher, forced-distributed searcher) over one index."""
    s_local = Searcher(spark, pos_index)
    assert s_local.local_max_postings > 0  # default gate admits this corpus
    s_dist = Searcher(spark, pos_index)
    s_dist.local_max_postings = 0  # force the distributed path
    return s_local, s_dist


QUERIES = ["a cornucopia of", "cornucopia", "be the person who",
           "a cornucopia of software"]


def _eq(a, b):
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True)), \
        f"local vs distributed mismatch:\n{a}\nvs\n{b}"


def test_local_matches_distributed_modes(two_paths):
    s_local, s_dist = two_paths
    for q in QUERIES:
        for mode, kw in [("any", {}), ("all", {}), ("phrase", {}),
                         ("near", {"window": 3})]:
            _eq(s_local.search_ids(q, k=10, case_id="7", mode=mode, **kw),
                s_dist.search_ids(q, k=10, case_id="7", mode=mode, **kw))


def test_local_matches_distributed_boolean_fuzzy_offset(two_paths):
    s_local, s_dist = two_paths
    q = "+cornucopia -software of"
    _eq(s_local.search_ids(q, k=10, case_id="7", mode="boolean"),
        s_dist.search_ids(q, k=10, case_id="7", mode="boolean"))
    q = "cornucopi~1 softw*"
    _eq(s_local.search_ids(q, k=10, case_id="7", mode="fuzzy"),
        s_dist.search_ids(q, k=10, case_id="7", mode="fuzzy"))
    _eq(s_local.search_ids("a cornucopia of", k=10, case_id="7", offset=7),
        s_dist.search_ids("a cornucopia of", k=10, case_id="7", offset=7))


def test_local_matches_distributed_count(two_paths):
    s_local, s_dist = two_paths
    for mode, kw in [("any", {}), ("all", {}), ("phrase", {}),
                     ("near", {"window": 2})]:
        assert (s_local.count("a cornucopia of", case_id="7", mode=mode, **kw)
                == s_dist.count("a cornucopia of", case_id="7", mode=mode,
                                **kw))


def test_local_matches_distributed_batched(two_paths):
    s_local, s_dist = two_paths
    qs = {f"q{i}": q for i, q in enumerate(QUERIES)}
    for mode, kw in [("any", {}), ("all", {}), ("phrase", {}),
                     ("near", {"window": 3})]:
        _eq(s_local.search_ids_many(qs, k=10, case_id="7", mode=mode, **kw),
            s_dist.search_ids_many(qs, k=10, case_id="7", mode=mode, **kw))
    bqs = {"b0": "+cornucopia of", "b1": "+cornucopia -software of"}
    _eq(s_local.search_ids_many(bqs, k=10, case_id="7", mode="boolean"),
        s_dist.search_ids_many(bqs, k=10, case_id="7", mode="boolean"))


def test_local_gate_rejects_filter_context(two_paths):
    """A filter context keeps the distributed cogroup path (the allowed set
    is a distributed DataFrame) — and gives identical results."""
    s_local, s_dist = two_paths
    fd = s_local.docs.filter("case_id = '7' and doc_id % 2 = 1") \
        .select("doc_id")
    _eq(s_local.search_ids("a cornucopia of", k=10, case_id="7",
                           filter_docs=fd),
        s_dist.search_ids("a cornucopia of", k=10, case_id="7",
                          filter_docs=fd))


def test_vocab_local_expansion_matches_spark(two_paths):
    """The vocabulary-local MultiTermQuery rewrite and spell suggester
    must produce exactly the Spark job's expansions/weights/suggestions."""
    s_local, s_dist = two_paths
    assert s_local._local_vocab("7") is not None
    assert s_dist._local_vocab("7") is None
    for fuzzy, prefixes in [
        ({"cornucopi": (1, 1.0)}, None),
        ({"cornucopi": (2, 2.0), "softwar": (1, 1.0)}, {"be": 1.5}),
        ({}, {"softw": 1.0}),
    ]:
        a = s_local.expand_fuzzy("7", fuzzy, prefixes=prefixes)
        b = s_dist.expand_fuzzy("7", fuzzy, prefixes=prefixes)
        assert a == b, (a, b)
    # regexp clauses: the local path evaluates them against the cached
    # vocabulary with the JVM java.util.regex engine (the same engine
    # rlike runs), so both searchers must agree exactly — including on
    # dialect-sensitive patterns (\w, alternation, bounded repeats)
    for rx in ("cor.*ia", r"\w+ia", "so(ft|rt)\\w*", "c[a-z]{3,9}a"):
        a = s_local.expand_fuzzy("7", {}, regexps={rx: 1.0})
        b = s_dist.expand_fuzzy("7", {}, regexps={rx: 1.0})
        assert a == b, (rx, a, b)
    assert s_local.expand_fuzzy("7", {}, regexps={"cor.*ia": 1.0})
    qa = sorted(map(tuple, s_local.suggest(
        ["cornucopi", "softwore"], case_id="7").collect()))
    qb = sorted(map(tuple, s_dist.suggest(
        ["cornucopi", "softwore"], case_id="7").collect()))
    assert qa == qb and qa
    _eq(s_local.search_ids("cornucopi~1 softw*", k=10, case_id="7",
                           mode="fuzzy"),
        s_dist.search_ids("cornucopi~1 softw*", k=10, case_id="7",
                          mode="fuzzy"))


def test_driver_side_filter_matches_dataframe_filter(two_paths):
    """A driver-RESIDENT filter set (numpy array / list via filter_docs)
    must produce bit-identical results to the same set as a distributed
    DataFrame, on both the local path and the forced-distributed path,
    across modes, boolean, fuzzy, count, and offset."""
    import numpy as np
    import pandas as pd

    s_local, s_dist = two_paths
    ids = np.arange(1, 1200, 2, dtype=np.int64)  # odd doc_ids
    fd = s_local.docs.filter("case_id = '7' and doc_id % 2 = 1") \
        .select("doc_id")
    q = "a cornucopia of"
    for mode, kw in [("any", {}), ("all", {}), ("phrase", {}),
                     ("near", {"window": 3})]:
        _eq(s_local.search_ids(q, k=10, case_id="7", mode=mode,
                               filter_docs=ids, **kw),
            s_dist.search_ids(q, k=10, case_id="7", mode=mode,
                              filter_docs=fd, **kw))
        # array filter on the forced-distributed searcher: converts to
        # the cogroup path, same results
        _eq(s_dist.search_ids(q, k=10, case_id="7", mode=mode,
                              filter_docs=ids, **kw),
            s_dist.search_ids(q, k=10, case_id="7", mode=mode,
                              filter_docs=fd, **kw))
    _eq(s_local.search_ids("+cornucopia -software of", k=10, case_id="7",
                           mode="boolean", filter_docs=ids),
        s_dist.search_ids("+cornucopia -software of", k=10, case_id="7",
                          mode="boolean", filter_docs=fd))
    _eq(s_local.search_ids("cornucopi~1 softw*", k=10, case_id="7",
                           mode="fuzzy", filter_docs=list(ids)),
        s_dist.search_ids("cornucopi~1 softw*", k=10, case_id="7",
                          mode="fuzzy", filter_docs=fd))
    _eq(s_local.search_ids(q, k=10, case_id="7", filter_docs=pd.Series(ids)),
        s_dist.search_ids(q, k=10, case_id="7", filter_docs=fd))
    _eq(s_local.search_ids(q, k=10, case_id="7", offset=5,
                           filter_docs=ids),
        s_dist.search_ids(q, k=10, case_id="7", offset=5, filter_docs=fd))
    assert (s_local.count(q, case_id="7", filter_docs=ids)
            == s_dist.count(q, case_id="7", filter_docs=fd))
    # filter predicate + driver-side set intersect exactly like two
    # DataFrame contexts
    _eq(s_local.search_ids(q, k=10, case_id="7", filter="doc_id <= 600",
                           filter_docs=ids),
        s_dist.search_ids(q, k=10, case_id="7", filter="doc_id <= 600",
                          filter_docs=fd))
    # empty driver-side set: no hits, no error
    assert s_local.search_ids(q, k=10, case_id="7",
                              filter_docs=np.array([], dtype=np.int64)).empty


def test_batched_local_gate_both_sides(spark, pos_index):
    """The batched local gate (_use_local: every plan under the
    single-query gate AND Σ volumes under factor × gate) must be
    bit-identical to the distributed shared-decode scan on both sides,
    including boolean batches; factor=0 disables the batched local path."""
    import numpy as np

    s_on = Searcher(spark, pos_index)
    s_off = Searcher(spark, pos_index)
    s_off.local_max_postings = 0  # batches always distributed
    qs = {f"q{i}": q for i, q in enumerate(QUERIES)}
    for mode, kw in [("any", {}), ("all", {}), ("phrase", {}),
                     ("near", {"window": 3})]:
        a = s_on.search_ids_many(qs, k=10, case_id="7", mode=mode, **kw)
        b = s_off.search_ids_many(qs, k=10, case_id="7", mode=mode, **kw)
        _eq(a, b)
    qb = {"b0": "+cornucopia -software of", "b1": "+be person who"}
    _eq(s_on.search_ids_many(qb, k=10, case_id="7", mode="boolean"),
        s_off.search_ids_many(qb, k=10, case_id="7", mode="boolean"))
    # a plan over the single-query gate keeps the whole batch distributed
    s_tiny = Searcher(spark, pos_index)
    s_tiny.local_max_postings = 1
    vols = [10, 1]
    assert not s_tiny._use_local(vols)
    assert s_on._use_local([100, 100])
    assert not s_off._use_local([100, 100])


def test_driver_side_filter_under_forced_pruning(spark, pos_index):
    """Forced block-max pruning (prune_min_postings=0) outranks the local
    gate; a driver-side filter set must then flow into the pruned
    distributed path with θ from filtered scores — identical results."""
    import numpy as np

    s_a = Searcher(spark, pos_index)
    s_a.prune_min_postings = 0  # force pruning
    s_b = Searcher(spark, pos_index)
    s_b.local_max_postings = 0  # plain distributed, no local path
    ids = np.arange(1, 1200, 3, dtype=np.int64)
    fd = s_b.docs.filter("case_id = '7' and (doc_id - 1) % 3 = 0") \
        .select("doc_id")
    _eq(s_a.search_ids("a cornucopia of", k=10, case_id="7",
                       filter_docs=ids),
        s_b.search_ids("a cornucopia of", k=10, case_id="7",
                       filter_docs=fd))


def test_dup_clusters_local_matches_distributed(spark):
    from pysearch.ops import dup_clusters

    rng = random.Random(11)
    nodes = list(range(400))
    edges = sorted({(min(a, b), max(a, b))
                    for a, b in (rng.sample(nodes, 2) for _ in range(300))})
    df = spark.createDataFrame(edges, schema="a long, b long")
    local = {r["doc_id"]: r["cluster_id"]
             for r in dup_clusters(df).collect()}
    dist = {r["doc_id"]: r["cluster_id"]
            for r in dup_clusters(df, local_max_edges=0).collect()}
    assert local == dist and local
