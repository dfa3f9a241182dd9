"""NRT hybrid search: persistent index + unflushed arrival batch scored
together under combined corpus stats (streaming.search_with_arrivals) must
be rank- AND score-identical to appending the batch and searching the
index — the Lucene NRT-reader contract, across any/all/phrase modes and
the append's dedupe rules."""

import shutil

import pytest

from pysearch import corpus


def _split_corpus(spark, n=90):
    """One deterministic corpus split two ways by url suffix: ~2/3 base
    (the pre-built index), ~1/3 arrivals.  Arrivals also repeat a few base
    rows (url dups AND content dups) to exercise the append anti-joins."""
    from pyspark.sql import functions as F

    full = corpus.webtext_df(spark, cases=[(6, "in the realm of", n, 200)])
    mod = F.substring("url", -1, 1).cast("int") % 3
    base = full.filter(mod != 0)
    arrivals = full.filter(mod == 0)
    # url-dup and content-dup rows vs the index: append must drop them
    dups = base.limit(4)
    return full, base, arrivals.unionByName(dups)


def _engine_hits(spark, ix, query, mode, k):
    from pysearch.query import Searcher

    s = Searcher(spark, ix)
    hits = s.search_ids(query, k=k, case_id="6", mode=mode)
    url_of = {r["doc_id"]: r["url"]
              for r in s.docs.select("doc_id", "url").collect()}
    return [(url_of[i], float(sc))
            for i, sc in zip(hits["doc_id"], hits["score"])]


@pytest.mark.parametrize("mode", ["any", "all", "phrase"])
def test_nrt_matches_append_then_search(spark, tmp_path, mode):
    from pysearch.build import build_index
    from pysearch.query import Searcher
    from pysearch.streaming import search_with_arrivals

    _full, base, arrivals = _split_corpus(spark)
    ix = str(tmp_path / f"nrt_ix_{mode}")
    build_index(spark, base, ix, segment_size=16, store_positions=True)

    queries = {"q0": "in the realm of", "q1": "realm",
               "q2": "full text search", "q3": "banana"}
    s = Searcher(spark, ix)
    res = search_with_arrivals(s, arrivals, queries, k=10, case_id="6",
                               mode=mode)
    got = {}
    for r in res.itertuples(index=False):
        got.setdefault(r.qid, []).append((r.url, float(r.score)))

    # ground truth: flush the batch into a COPY of the index, then search
    ix2 = str(tmp_path / f"nrt_ix2_{mode}")
    shutil.copytree(ix, ix2)
    build_index(spark, arrivals, ix2, append=True, segment_size=16,
                store_positions=True)
    # the batched index side (prune=False: whole log in one postings scan)
    # must return the same hits
    res_b = search_with_arrivals(s, arrivals, queries, k=10, case_id="6",
                                 mode=mode, prune=False)
    got_b = {}
    for r in res_b.itertuples(index=False):
        got_b.setdefault(r.qid, []).append((r.url, float(r.score)))

    some_hits = False
    for qid, q in queries.items():
        want = _engine_hits(spark, ix2, q, mode, k=10)
        assert got.get(qid, []) == want, (mode, qid)
        assert got_b.get(qid, []) == want, ("batched", mode, qid)
        some_hits = some_hits or bool(want)
    assert some_hits
    # the hybrid must actually MIX sides: an arrival url in q0's top-k
    if mode == "any":
        arrival_urls = {r["url"] for r in arrivals.select("url").collect()}
        base_urls = {r["url"] for r in base.select("url").collect()}
        tops = {u for u, _ in got["q0"]}
        assert tops & (arrival_urls - base_urls), "no arrival doc ranked"
        assert tops & base_urls, "no index doc ranked"


def test_nrt_catalog_keys_filter_matches_anti_join(spark, tmp_path):
    """The cached local-relation form of the already-indexed anti-joins
    (catalog under the LOCAL_MAX_CATALOG gate) must keep the hybrid
    bit-identical to the docs-scan anti-join form (gate forced off).
    The arrival batch deliberately contains url- and content-dup rows of
    the index, so the anti-joins have real work to do."""
    from pysearch.build import build_index
    from pysearch.query import Searcher
    from pysearch.streaming import search_with_arrivals

    _full, base, arrivals = _split_corpus(spark)
    ix = str(tmp_path / "nrt_ix_keys")
    build_index(spark, base, ix, segment_size=16, store_positions=True)
    queries = {"q0": "in the realm of", "q1": "realm"}

    s_on = Searcher(spark, ix)
    assert s_on._catalog("6") is not None
    res_on = search_with_arrivals(s_on, arrivals, queries, k=10,
                                  case_id="6")
    s_off = Searcher(spark, ix)
    s_off.local_max_postings = 0  # force the distributed anti-joins
    assert s_off._catalog("6") is None
    res_off = search_with_arrivals(s_off, arrivals, queries, k=10,
                                   case_id="6")
    assert res_on.reset_index(drop=True).equals(
        res_off.reset_index(drop=True))
    assert len(res_on) > 0


def test_nrt_stats_shift_vs_index_only(spark, tmp_path):
    """The combined stats must actually bite: with arrivals present, even
    an index doc's score changes (n_docs/avgdl/df all moved), so hybrid
    scores differ from searching the index alone."""
    from pysearch.build import build_index
    from pysearch.query import Searcher
    from pysearch.streaming import search_with_arrivals

    _full, base, arrivals = _split_corpus(spark)
    ix = str(tmp_path / "nrt_stats_ix")
    build_index(spark, base, ix, segment_size=16)
    s = Searcher(spark, ix)
    hybrid = search_with_arrivals(s, arrivals, {"q": "realm"}, k=5,
                                  case_id="6")
    url_of = {r["doc_id"]: r["url"]
              for r in s.docs.select("doc_id", "url").collect()}
    alone = s.search_ids("realm", k=5, case_id="6")
    alone_scores = {url_of[i]: float(sc)
                    for i, sc in zip(alone["doc_id"], alone["score"])}
    overlap = [(r.url, float(r.score)) for r in hybrid.itertuples(index=False)
               if r.url in alone_scores]
    assert overlap
    assert all(sc != alone_scores[u] for u, sc in overlap)


def test_nrt_pruning_is_lossless(spark, tmp_path):
    """Forced WAND pruning on the hybrid's index side (θ established from
    index-only candidates — a lower bound of the union kth score) must not
    change a single hybrid result."""
    from pysearch.build import build_index
    from pysearch.query import Searcher
    from pysearch.streaming import search_with_arrivals

    _full, base, arrivals = _split_corpus(spark)
    ix = str(tmp_path / "nrt_prune_ix")
    build_index(spark, base, ix, segment_size=16)
    queries = {"q0": "in the realm of", "q1": "realm of the"}
    s = Searcher(spark, ix)
    unpruned = search_with_arrivals(s, arrivals, queries, k=10,
                                    case_id="6", prune=False)
    s.prune_min_postings = 0  # force phase-1/phase-2 pruning
    pruned = search_with_arrivals(s, arrivals, queries, k=10, case_id="6")
    assert pruned.values.tolist() == unpruned.values.tolist()
    assert len(pruned)


def _jobs(spark, fn, group):
    """(fn(), number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_nrt_index_urls_from_catalog(spark, tmp_path):
    """Under the catalog gate the index hits' urls come from the
    Searcher's cached catalog: the same frame as the docs-table lookup
    above the gate, and one Spark job fewer than the docs-table lookup."""
    import pandas as pd

    from pysearch.build import build_index
    from pysearch.query import Searcher
    from pysearch.streaming import search_with_arrivals

    _full, base, arrivals = _split_corpus(spark)
    ix = str(tmp_path / "nrt_url_ix")
    build_index(spark, base, ix, segment_size=16)
    queries = {"q0": "in the realm of", "q1": "realm"}
    on = Searcher(spark, ix)
    off = Searcher(spark, ix)
    off.local_max_postings = 0

    def run(s):
        return search_with_arrivals(s, arrivals, queries, k=10, case_id="6")

    want = run(on)
    assert len(want)
    pd.testing.assert_frame_equal(run(off), want)
    got, n_catalog = _jobs(spark, lambda: run(on), "nrt-catalog")
    pd.testing.assert_frame_equal(got, want)
    # the same call with the catalog hidden from the url lookup only (the
    # append anti-joins read it first)
    real, seen = on._catalog, []

    def catalog_for_anti_joins_only(case_id):
        seen.append(case_id)
        return real(case_id) if len(seen) == 1 else None

    on._catalog = catalog_for_anti_joins_only
    got, n_docs_table = _jobs(spark, lambda: run(on), "nrt-docs-table")
    assert len(seen) == 2
    pd.testing.assert_frame_equal(got, want)
    assert n_docs_table == n_catalog + 1


def test_nrt_and_batch_share_the_prune_rule(spark, tmp_path, monkeypatch):
    """The NRT index side and search_ids_many make the same prune decision
    for a log where one mode="all" plan is dropped (a term absent from the
    index): the volume counts the surviving plans' terms only."""
    from pysearch.build import build_index
    from pysearch.query import Searcher
    from pysearch.streaming import search_with_arrivals

    _full, base, arrivals = _split_corpus(spark)
    ix = str(tmp_path / "nrt_prune_ix")
    build_index(spark, base, ix, segment_size=16)
    s = Searcher(spark, ix)
    (realm,) = s._analyze("realm")
    dfs = s._term_dfs("6", s._analyze("realm software"))
    assert len(dfs) == 2
    queries = {"q1": "realm", "q2": "software zzzabsentzzz"}
    calls = []
    real = Searcher._prune_blocks

    def spy(self, *a, **kw):
        calls.append(tag)
        return real(self, *a, **kw)

    monkeypatch.setattr(Searcher, "_prune_blocks", spy)
    for prune_min, pruned in ((dfs[realm], False), (dfs[realm] - 1, True)):
        s.prune_min_postings = prune_min
        calls.clear()
        tag = "nrt"
        search_with_arrivals(s, arrivals, queries, k=10, case_id="6",
                             mode="all")
        tag = "many"
        s.search_ids_many(queries, k=10, case_id="6", mode="all")
        assert calls == (["nrt", "many"] if pruned else []), prune_min


def test_foreach_batch_nrt_serve_then_flush(spark, tmp_path):
    """The serve-then-flush sink: each epoch's parquet holds the query's
    top-k over everything ingested UP TO AND INCLUDING that micro-batch
    (epoch 0 batch-local, epoch 1 hybrid over index ∪ batch), and the
    index afterwards holds the full corpus."""
    import glob

    from pysearch.build import build_index
    from pysearch.query import Searcher
    from pysearch.streaming import foreach_batch_nrt

    df = corpus.webtext_df(spark, cases=[(6, "in the realm of", 60, 200)])
    b0 = df.filter("url <= 'doc://6/0030'")
    b1 = df.filter("url > 'doc://6/0030'")
    src = str(tmp_path / "nrt_src")
    b0.coalesce(1).write.mode("overwrite").parquet(src)
    b1.coalesce(1).write.mode("append").parquet(src)

    ix = str(tmp_path / "nrt_sink_ix")
    out = str(tmp_path / "nrt_sink_out")
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        stream.writeStream
        .foreachBatch(foreach_batch_nrt(
            ix, {"q": "in the realm of"}, out, k=60, case_id="6",
            segment_size=16, compact_every=0))
        .option("checkpointLocation", str(tmp_path / "nrt_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(glob.glob(f"{out}/epoch=*")) == 2
    res = spark.read.parquet(out)
    per_epoch = {}
    for r in res.collect():
        per_epoch.setdefault(int(r["epoch"]), []).append(
            (r["url"], float(r["score"])))

    def fresh(which, label):
        ixf = str(tmp_path / f"nrt_fresh_{label}")
        build_index(spark, which, ixf, segment_size=16)
        return sorted(_engine_hits(spark, ixf, "in the realm of", "any",
                                   k=60))

    # the later epoch saw everything; the earlier one saw exactly its own
    # batch (k=60 covers every hit, so tie order at the k boundary can't
    # differ between the append layout and a fresh build)
    last = max(per_epoch)
    assert sorted(per_epoch[last]) == fresh(df, "full")
    first_hits = sorted(per_epoch[min(per_epoch)])
    assert first_hits in (fresh(b0, "b0"), fresh(b1, "b1"))
    # and the flushed index now answers with the full corpus
    s = Searcher(spark, ix)
    hits = s.search_ids("in the realm of", k=60, case_id="6")
    url_of = {r["doc_id"]: r["url"]
              for r in s.docs.select("doc_id", "url").collect()}
    assert sorted((url_of[i], float(sc))
                  for i, sc in zip(hits["doc_id"], hits["score"])) \
        == fresh(df, "full2")


def test_nrt_empty_and_dud_batches(spark, tmp_path):
    """An all-duplicate arrival batch (nothing survives the anti-joins)
    must reduce the hybrid to exactly the index-only answer, and a query
    with a corpus-absent term must stay empty under mode='all'."""
    from pysearch.build import build_index
    from pysearch.query import Searcher
    from pysearch.streaming import search_with_arrivals

    _full, base, _arrivals = _split_corpus(spark)
    ix = str(tmp_path / "nrt_dud_ix")
    build_index(spark, base, ix, segment_size=16)
    s = Searcher(spark, ix)
    dud = base.limit(6)  # every row already indexed
    res = search_with_arrivals(s, dud, {"q": "in the realm of"}, k=8,
                               case_id="6")
    url_of = {r["doc_id"]: r["url"]
              for r in s.docs.select("doc_id", "url").collect()}
    alone = s.search_ids("in the realm of", k=8, case_id="6")
    want = [(url_of[i], float(sc))
            for i, sc in zip(alone["doc_id"], alone["score"])]
    assert [(r.url, float(r.score)) for r in res.itertuples(index=False)] \
        == want
    res2 = search_with_arrivals(s, dud, {"q": "realm banana"}, k=8,
                                case_id="6", mode="all")
    assert len(res2) == 0
