"""Bit-identity pins for the arrival scorer's two fetchers
(streaming._arrival_hits): the driver-local fetcher (default gate) must
return EXACTLY what the distributed repartition(url) + per-partition top-k
fetcher returns (gate forced off via PYSEARCH_LOCAL_MAX_POSTINGS=0, or via
the Searcher's local_max_postings on the NRT side), including row order
and float bits, for score_arriving_batch (any/all/phrase) and the NRT
hybrid search_with_arrivals."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("PYSEARCH_TEST_SF", "/root/testdata/sf0.001")


def _webtext(spark):
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select(
            F.format_string("doc://docs/%09d", F.col("doc_id")).alias("url"),
            "text",
        )
    )


def _queries(spark):
    """Terms drawn from the corpus itself so every mode has live hits:
    q0 = the first doc's opening trigram (a real phrase), q1 = two common
    tokens, q2 = one common token (many docs share its tf and length, so
    its ranking has score ties in every mode), q_dud = a token that cannot
    exist."""
    first = _webtext(spark).orderBy("url").limit(1).collect()[0]["text"]
    toks = [t for t in first.split(" ") if t][:3]
    return {
        "q0": " ".join(toks),
        "q1": f"{toks[0]} {toks[-1]}",
        "q2": toks[1],
        "q_dud": "zzqx_no_such_token",
    }


def _rows(df):
    return [(r["qid"], r["url"], r["score"]) for r in df.collect()]


def _tie_k(rows):
    """A k at which some query's k-th and (k+1)-th scores tie in the full
    ranking ``rows`` (qid asc, score desc), or None."""
    per_q: dict = {}
    for qid, _url, s in rows:
        per_q.setdefault(qid, []).append(s)
    for scores in per_q.values():
        for k in range(1, len(scores)):
            if scores[k - 1] == scores[k]:
                return k
    return None


def test_arrival_scorer_keeps_phrase_markers_apart():
    """Each phrase plan is gated by its own "\\x00p:<qid>" marker rows,
    even though the markers agree up to their first NUL."""
    import pandas as pd

    from pysearch import score as sc
    from pysearch.streaming import _topk_arrivals

    cand = pd.DataFrame({
        "url": ["u1", "u1", "u2", "u2", "u1", "u2"],
        "term": ["a", "b", "a", "b", "\x00p:q_ab", "\x00p:q_ba"],
        "tf": [1, 1, 2, 1, 1, 1], "dl": [4, 4, 6, 6, 4, 6]})
    dfs = {"a": 2, "b": 2}
    plans = {"q_ab": sc.build_plan("phrase", ["a", "b"], dfs, 10),
             "q_ba": sc.build_plan("phrase", ["b", "a"], dfs, 10)}
    hits = _topk_arrivals(cand, plans, 5.0, 10)
    assert list(zip(hits["qid"], hits["url"])) == [("q_ab", "u1"),
                                                   ("q_ba", "u2")]


@pytest.mark.parametrize("mode", ["any", "all", "phrase"])
def test_score_arriving_batch_local_matches_distributed(
        spark, monkeypatch, mode):
    from pysearch.streaming import score_arriving_batch

    qs = _queries(spark)
    batch = _webtext(spark)
    monkeypatch.delenv("PYSEARCH_LOCAL_MAX_POSTINGS", raising=False)
    full = _rows(score_arriving_batch(batch, qs, k=10_000,
                                      analyzer="simple", mode=mode))
    k_tie = _tie_k(full)
    assert k_tie is not None  # the cut must fall inside a tie
    for k in (10, k_tie):
        monkeypatch.delenv("PYSEARCH_LOCAL_MAX_POSTINGS", raising=False)
        local = _rows(score_arriving_batch(batch, qs, k=k,
                                           analyzer="simple", mode=mode))
        monkeypatch.setenv("PYSEARCH_LOCAL_MAX_POSTINGS", "0")
        # uncoalesced shuffle partitions: the driver must merge several
        # partitions' top-ks, not one
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            dist = _rows(score_arriving_batch(batch, qs, k=k,
                                              analyzer="simple", mode=mode))
        finally:
            spark.conf.set(key, prev)
        assert local == dist
        assert local  # the corpus-drawn queries must actually hit


@pytest.fixture(scope="module")
def nrt_case(spark, tmp_path_factory):
    """A base index over ~4/5 of the corpus and the remaining ~1/5 as the
    unflushed arrival batch."""
    from pyspark.sql import functions as F

    from pysearch.build import build_index

    wt = _webtext(spark)
    key = F.crc32(F.encode(F.col("text"), "utf-8")) % 5
    ix = str(tmp_path_factory.mktemp("mem_local") / "ix")
    build_index(spark, wt.filter(key != 0), ix, segment_size=128,
                analyzer="simple")
    return ix, wt.filter(key == 0), _queries(spark)


def test_search_with_arrivals_local_matches_distributed(
        spark, nrt_case, monkeypatch):
    import pandas as pd

    from pysearch.query import Searcher
    from pysearch.streaming import search_with_arrivals

    ix, arrivals, qs = nrt_case
    monkeypatch.delenv("PYSEARCH_LOCAL_MAX_POSTINGS", raising=False)
    s_local = Searcher(spark, ix)
    res_local = search_with_arrivals(s_local, arrivals, qs, k=10,
                                     case_id="0")
    monkeypatch.setenv("PYSEARCH_LOCAL_MAX_POSTINGS", "0")
    s_dist = Searcher(spark, ix)
    s_dist.local_max_postings = 0  # index side distributed too
    res_dist = search_with_arrivals(s_dist, arrivals, qs, k=10,
                                    case_id="0")
    pd.testing.assert_frame_equal(
        res_local.reset_index(drop=True), res_dist.reset_index(drop=True),
        check_exact=True)
    assert len(res_local) > 0


def test_search_with_arrivals_mem_gate_follows_searcher(
        spark, nrt_case, monkeypatch):
    """With the env knob unset, ``local_max_postings = 0`` on the Searcher
    alone sends the mem side to the distributed fetcher, and the answer
    equals the default Searcher's."""
    import pandas as pd

    from pysearch import streaming
    from pysearch.query import Searcher

    ix, arrivals, qs = nrt_case
    monkeypatch.delenv("PYSEARCH_LOCAL_MAX_POSTINGS", raising=False)
    fetched = []
    orig = streaming._arrival_hits

    def spy(toks, plans, avgdl, k, local):
        fetched.append(local)
        return orig(toks, plans, avgdl, k, local)

    monkeypatch.setattr(streaming, "_arrival_hits", spy)
    res_on = streaming.search_with_arrivals(Searcher(spark, ix), arrivals,
                                            qs, k=10, case_id="0")
    s_off = Searcher(spark, ix)
    s_off.local_max_postings = 0
    res_off = streaming.search_with_arrivals(s_off, arrivals, qs, k=10,
                                             case_id="0")
    assert fetched == [True, False]
    pd.testing.assert_frame_equal(
        res_on.reset_index(drop=True), res_off.reset_index(drop=True),
        check_exact=True)
    assert len(res_on) > 0
