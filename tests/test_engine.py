"""End-to-end engine correctness: the ported doMatch recall oracle, pinned
golden rank identity (WAND on/off), resume, and determinism properties.

Reference oracle: /root/reference/internal/doclib/bleve_mem_test.go:16-62 —
searching case (term, numDocs, docLen) with k=numDocs must return exactly
the docs {i : i %% 3 != 2}.
"""

import json
import os
import shutil

import pytest

from pysearch import corpus
from pysearch.build import build_index, build_docs_stage, build_postings_stage
from pysearch.lineage import IndexLayout
from pysearch.query import Searcher

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")
INDEX_DIR = "/tmp/pysearch_test_index"

# keep the suite fast: the five cheap cases exercised in full; the two big
# cases (7: 5000 docs, 8: 100 x 100KB docs) run in the same index build
CASES = corpus.CASES


@pytest.fixture(scope="session")
def searcher(spark, index):
    return Searcher(spark, index)


def test_recall_oracle_all_cases(searcher):
    """The 8 reference cases: exact hit set == {i : i%3 != 2}."""
    for case_id, term, num_docs, _doc_len in CASES:
        hits = searcher.search_ids(term, k=num_docs, case_id=str(case_id))
        got = sorted(int(d) for d in hits["doc_id"])
        want = [i for i in range(1, num_docs + 1) if i % 3 != 2]
        assert got == want, f"case {case_id} ({term!r}): {len(got)} vs {len(want)}"


@pytest.mark.parametrize("prune", [True, False])
def test_rank_identity_goldens(searcher, prune):
    """Pinned golden top-10: same doc_ids AND bit-equal float64 scores,
    with and without WAND pruning (pruning forced on regardless of the
    posting-volume heuristic so the lossless property is really exercised)."""
    old = searcher.prune_min_postings
    searcher.prune_min_postings = 0
    try:
        for case_id, term, _n, _l in CASES:
            with open(os.path.join(GOLDEN_DIR, f"case_{case_id}_top10.json")) as f:
                golden = json.load(f)
            hits = searcher.search_ids(term, k=10, case_id=str(case_id), prune=prune)
            got = [[int(d), float(s)] for d, s in zip(hits["doc_id"], hits["score"])]
            assert got == golden["top"], f"case {case_id} prune={prune}"
    finally:
        searcher.prune_min_postings = old


def test_default_k_and_negative_k(searcher):
    hits = searcher.search_ids("in the realm of", k=-1, case_id="6")
    assert len(hits) == 10  # DefaultMaxResults (reference index_search.go:55-56)


def test_no_match_terms(searcher):
    hits = searcher.search_ids("zzzunknownterm", k=10, case_id="6")
    assert hits.empty
    hits = searcher.search_ids("the of and", k=10, case_id="6")  # all stopwords
    assert hits.empty


def test_unknown_case(searcher):
    assert searcher.search_ids("realm", k=10, case_id="999").empty


def test_conjunctive_mode_matches_brute_force(searcher):
    """mode="all" == disjunctive scores restricted to docs containing every
    analyzed query term (posting-list intersection), with and without WAND
    pruning forced on.

    Query choice: in case 6 'realm' occurs only in phrase docs (i%3 != 2)
    while 'software' occurs in nearly every doc, so the conjunctive set is a
    proper subset of the disjunctive one and the filter is really exercised.
    """
    case, q, n = "6", "realm software", 500
    allhits = searcher.search_ids(q, k=n, case_id=case)
    docs = (
        searcher.docs.filter(searcher.docs.case_id == case)
        .select("doc_id", "text").toPandas()
    )
    terms = set(searcher._analyze(q))
    assert len(terms) == 2
    has_all = {
        int(r.doc_id) for r in docs.itertuples(index=False)
        if terms <= set(searcher._analyze(r.text))
    }
    exp = allhits[allhits["doc_id"].isin(has_all)].head(10)
    assert 0 < len(has_all) < len(allhits)  # proper subset: filter matters

    old = searcher.prune_min_postings
    try:
        for prune_min in (old, 0):  # heuristic gate and forced pruning
            searcher.prune_min_postings = prune_min
            conj = searcher.search_ids(q, k=10, case_id=case, mode="all")
            assert list(conj["doc_id"]) == list(exp["doc_id"])
            assert list(conj["score"]) == list(exp["score"])  # bit-equal
    finally:
        searcher.prune_min_postings = old

    # a term absent from the corpus empties the conjunctive result
    assert searcher.search_ids("realm zzzmissing", k=10, case_id=case,
                               mode="all").empty
    # single-term conjunctive == disjunctive
    a = searcher.search_ids("realm", k=10, case_id=case, mode="all")
    b = searcher.search_ids("realm", k=10, case_id=case)
    assert list(a["doc_id"]) == list(b["doc_id"])


def test_full_search_spans_and_best_filter(searcher, spark):
    """Phrase alignment + Best filter semantics on a multi-term query."""
    m = searcher.search("with good intentions for", k=10, case_id="4").toPandas()
    assert not m.empty
    # every surviving match aligns the full analyzed phrase ["good","intent"]
    for spans in m["spans"]:
        assert all(s["score"] == 2.0 for s in spans)
    # spans point at the injected phrase in the original text
    docs = {
        i: corpus.doc_text(i, "with good intentions for", 50, 1000)
        for i in m["doc_id"]
    }
    for r in m.itertuples(index=False):
        text = docs[r.doc_id]
        for s in r.spans:
            assert text[s["start"]:s["end"]].lower().startswith("good")
    # line numbers resolve (single-line docs -> line 1)
    assert all(ln == 1 for lns in m["line_nums"] for ln in lns)


def test_span_offsets_match_source_text(searcher):
    """FIXTURES §4.4 span oracle: span char offsets point exactly at the
    injected phrase's analyzed-term window in the original text."""
    m = searcher.search("but I prefer Python when", k=5, case_id="2").toPandas()
    assert not m.empty
    for r in m.itertuples(index=False):
        text = corpus.doc_text(int(r.doc_id), "but I prefer Python when", 5, 2000)
        want_start = text.index("prefer Python")
        assert [s["start"] for s in r.spans] == [want_start]
        assert [s["end"] for s in r.spans] == [want_start + len("prefer Python")]
        assert all(s["score"] == 2.0 for s in r.spans)
        # highlight fragment (reference Fragment, search_pdfs.go:189-192):
        # contains the matched phrase, ellipsized when clipped
        assert "prefer Python" in r.fragment
        assert len(r.fragment) <= 2 * len("prefer Python") + 2 * 60 + 2
        if want_start > 60:
            assert r.fragment.startswith("…")


def test_incremental_append_new_case(spark, tmp_path):
    """Append parity with the reference's open-existing-index path
    (bleve_glue.go:20-30, index_search.go:86): build cases 1-4, append case
    6, and the case-6 golden top-10 must reproduce exactly while case-1
    results stay bit-identical."""
    d = str(tmp_path / "append_ix")
    build_index(spark, corpus.webtext_df(spark, cases=corpus.CASES[:4]), d,
                segment_size=256)

    def top10(searcher, term, case_id):
        h = searcher.search_ids(term, k=10, case_id=case_id)
        return [[int(x), float(y)] for x, y in zip(h["doc_id"], h["score"])]

    with open(os.path.join(GOLDEN_DIR, "case_1_top10.json")) as f:
        g1 = json.load(f)["top"]
    with open(os.path.join(GOLDEN_DIR, "case_6_top10.json")) as f:
        g6 = json.load(f)["top"]
    assert top10(Searcher(spark, d), corpus.CASES[0][1], "1") == g1

    build_index(spark, corpus.webtext_df(spark, cases=[corpus.CASES[5]]), d,
                append=True)
    s = Searcher(spark, d)
    assert top10(s, "in the realm of", "6") == g6
    assert top10(s, corpus.CASES[0][1], "1") == g1  # untouched by append

    # appending the same rows again is a no-op (url/content dedupe)
    build_index(spark, corpus.webtext_df(spark, cases=[corpus.CASES[5]]), d,
                append=True)
    s2 = Searcher(spark, d)
    assert s2._corpus == s._corpus
    assert top10(s2, "in the realm of", "6") == g6


def test_incremental_append_same_case(spark, tmp_path):
    """Appending more docs to an EXISTING case: ids continue above the next
    segment boundary, stats refresh, and scores match a fresh full build
    (same doc set -> same N/avgdl/tf/dl)."""
    case_id, term, n, dl = 4, "with good intentions for", 50, 1000
    full = corpus.webtext_df(spark, cases=[(case_id, term, n, dl)])
    first = full.filter("url <= 'doc://4/0025'")
    second = full.filter("url > 'doc://4/0025'")

    d = str(tmp_path / "same_case_ix")
    build_index(spark, first, d, segment_size=16)
    build_index(spark, second, d, append=True)
    s = Searcher(spark, d)
    hits = s.search_ids(term, k=n, case_id=str(case_id))
    url_of = {r["doc_id"]: r["url"]
              for r in s.docs.select("doc_id", "url").collect()}
    got = sorted(int(url_of[i].rsplit("/", 1)[1]) for i in hits["doc_id"])
    assert got == [i for i in range(1, n + 1) if i % 3 != 2]
    # appended ids start at the segment boundary above 25 (16 -> 32), so
    # appended segments never mix with built ones
    appended = [i for i in url_of if i > 25]
    assert appended and min(appended) == 33
    # score multiset identical to a fresh full build
    d2 = str(tmp_path / "fresh_ix")
    build_index(spark, full, d2, segment_size=16)
    fresh = Searcher(spark, d2).search_ids(term, k=n, case_id=str(case_id))
    assert sorted(hits["score"]) == sorted(fresh["score"])


def test_search_many_matches_single(searcher):
    """Batched query-log scoring == per-query search_ids, bit-equal, in
    both match modes; dead queries yield no rows."""
    qs = {
        "q1": "in the realm of",
        "q2": "realm software",
        "q3": "software stack",
        "q4": "zzzmissingterm",
        "q5": "realm",
    }
    for mode in ("any", "all"):
        batch = searcher.search_ids_many(qs, k=10, case_id="6", mode=mode)
        for qid, q in qs.items():
            single = searcher.search_ids(q, k=10, case_id="6", prune=False,
                                         mode=mode)
            sub = batch[batch["qid"] == qid]
            assert list(sub["doc_id"]) == list(single["doc_id"]), (qid, mode)
            assert list(sub["score"]) == list(single["score"]), (qid, mode)
    assert searcher.search_ids_many({}, k=10, case_id="6").empty
    assert searcher.search_ids_many(qs, k=10, case_id="999").empty


def test_boosted_scores(searcher):
    """Per-term boosts: boost=1 round-trips bit-identically; boosted
    scores equal the weighted sum of the per-term contributions; caret
    syntax == explicit dict == forced pruning == batched path, all
    bit-identical; non-positive boosts are rejected."""
    case, n = "6", 500
    base = searcher.search_ids("realm software", k=n, case_id=case)
    same = searcher.search_ids("realm^1.0 software^1", k=n, case_id=case)
    assert list(same["doc_id"]) == list(base["doc_id"])
    assert list(same["score"]) == list(base["score"])  # bit-equal

    s1 = dict(zip(*(searcher.search_ids("realm", k=n, case_id=case)[c]
                    for c in ("doc_id", "score"))))
    s2 = dict(zip(*(searcher.search_ids("software", k=n, case_id=case)[c]
                    for c in ("doc_id", "score"))))
    w1, w2 = 2.0, 0.5
    q = f"realm^{w1} software^{w2}"
    boosted = searcher.search_ids(q, k=n, case_id=case)
    exp = {int(d): w1 * s1.get(d, 0.0) + w2 * s2.get(d, 0.0)
           for d in set(s1) | set(s2)}
    assert len(boosted) == len(exp)
    for d, s in zip(boosted["doc_id"], boosted["score"]):
        # (idf*w)*tfnorm vs w*(idf*tfnorm): association differs, so a few
        # ulps of slack — the cross-form identities below stay bit-exact
        assert abs(s - exp[int(d)]) <= 1e-9 * max(1.0, abs(s))
    assert list(boosted["score"]) != list(base["score"])  # the boost bites

    tb = {searcher._analyze("realm")[0]: w1,
          searcher._analyze("software")[0]: w2}
    dictform = searcher.search_ids("realm software", k=n, case_id=case,
                                   boosts=tb)
    assert list(dictform["doc_id"]) == list(boosted["doc_id"])
    assert list(dictform["score"]) == list(boosted["score"])

    old = searcher.prune_min_postings
    try:
        searcher.prune_min_postings = 0  # force WAND + block pruning
        pruned = searcher.search_ids(q, k=n, case_id=case)
    finally:
        searcher.prune_min_postings = old
    assert list(pruned["doc_id"]) == list(boosted["doc_id"])
    assert list(pruned["score"]) == list(boosted["score"])

    many = searcher.search_ids_many({"b": q}, k=10, case_id=case)
    one = searcher.search_ids(q, k=10, case_id=case)
    assert list(many["doc_id"]) == list(one["doc_id"])
    assert list(many["score"]) == list(one["score"])

    with pytest.raises(ValueError, match="boost must be > 0"):
        searcher.search_ids("realm^0 software", case_id=case)
    with pytest.raises(ValueError, match="boost must be > 0"):
        searcher.search_ids("realm software", case_id=case,
                            boosts={"realm": -1.0})


def test_boolean_occurs(searcher):
    """Lucene BooleanQuery occurs (+must -must_not should): must-only ==
    mode="all" bit-identically, should-only == mode="any" bit-identically,
    the must_not gate removes exactly the docs matching the prohibited
    term (set arithmetic vs the single-term result sets), absent clauses
    behave per Lucene (absent must -> empty, absent should -> dropped,
    absent must_not -> no-op), and boosts compose on positive clauses
    only."""
    case, n = "6", 500

    # clause-mode equivalences (all paths share _topk_from_decoded)
    allm = searcher.search_ids("realm software", k=n, case_id=case,
                               mode="all")
    must = searcher.search_ids("+realm +software", k=n, case_id=case,
                               mode="boolean")
    assert list(must["doc_id"]) == list(allm["doc_id"])
    assert list(must["score"]) == list(allm["score"])  # bit-equal
    anym = searcher.search_ids("realm software", k=n, case_id=case)
    should = searcher.search_ids("realm software", k=n, case_id=case,
                                 mode="boolean")
    assert list(should["doc_id"]) == list(anym["doc_id"])
    assert list(should["score"]) == list(anym["score"])

    # the not-gate: +realm -software == docs(realm) \ docs(software),
    # scored by the realm term alone
    s1 = dict(zip(*(searcher.search_ids("realm", k=n, case_id=case)[c]
                    for c in ("doc_id", "score"))))
    s2 = dict(zip(*(searcher.search_ids("software", k=n, case_id=case)[c]
                    for c in ("doc_id", "score"))))
    assert set(s1) & set(s2), "fixture must have overlapping term docsets"
    gated = searcher.search_ids("+realm -software", k=n, case_id=case,
                                mode="boolean")
    assert set(int(d) for d in gated["doc_id"]) == set(s1) - set(s2)
    assert len(gated) < len(s1)  # the gate bites
    for d, s in zip(gated["doc_id"], gated["score"]):
        assert s == s1[d]  # bit-equal single-term scores

    # explicit-clause API == syntax form
    expl = searcher.search_ids_boolean(must="realm", must_not="software",
                                       k=n, case_id=case)
    assert list(expl["doc_id"]) == list(gated["doc_id"])
    assert list(expl["score"]) == list(gated["score"])

    # absent-term clause semantics
    assert searcher.search_ids("+zzzznotaword realm", k=n, case_id=case,
                               mode="boolean").empty  # absent must
    drop = searcher.search_ids("realm zzzznotaword", k=n, case_id=case,
                               mode="boolean")  # absent should drops
    only = searcher.search_ids("realm", k=n, case_id=case)
    assert list(drop["doc_id"]) == list(only["doc_id"])
    assert list(drop["score"]) == list(only["score"])
    noop = searcher.search_ids("+realm -zzzznotaword", k=n, case_id=case,
                               mode="boolean")  # absent must_not no-op
    alls = searcher.search_ids("realm", k=n, case_id=case, mode="all")
    assert list(noop["doc_id"]) == list(alls["doc_id"])
    assert list(noop["score"]) == list(alls["score"])
    assert searcher.search_ids("-realm", k=n, case_id=case,
                               mode="boolean").empty  # pure negation
    assert searcher.search_ids("+realm -realm", k=n, case_id=case,
                               mode="boolean").empty  # contradiction

    # boosts ride the positive clauses; boosting a must_not is rejected
    b1 = searcher.search_ids("+realm^2 -software", k=n, case_id=case,
                             mode="boolean")
    for d, s in zip(b1["doc_id"], b1["score"]):
        assert abs(s - 2.0 * s1[d]) <= 1e-9 * max(1.0, abs(s))
    with pytest.raises(ValueError, match="MUST_NOT"):
        searcher.search_ids("+realm -software^2", k=n, case_id=case,
                            mode="boolean")

    # the batched query-log path: every plan shape bit-identical to the
    # per-query boolean (shared decode, per-plan gates)
    qs = {
        "gated": "+realm -software",
        "must": "+realm +software",
        "should": "realm software",
        "absent": "+zzzznotaword realm",
        "boosted": "realm^2 -software",
    }
    many = searcher.search_ids_many(qs, k=15, case_id=case, mode="boolean")
    for qid, q in qs.items():
        one = searcher.search_ids(q, k=15, case_id=case, mode="boolean")
        sub = many[many["qid"] == qid].reset_index(drop=True)
        assert list(sub["doc_id"]) == list(one["doc_id"]), qid
        assert list(sub["score"]) == list(one["score"]), qid
    assert not (many["qid"] == "absent").any()


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_query(searcher):
    """Lucene FuzzyQuery (term~d): distance-0 fuzzy == mode="any"
    bit-identically; the expansion equals a brute-force Levenshtein sweep
    of the case vocabulary with Lucene's similarity weights; a
    misspelling's scores are the weight-scaled exact-term scores; boosts
    compose; the top-N cap is deterministic; pruning is lossless; d > 2
    is rejected."""
    case, n = "6", 500

    base = searcher.search_ids("realm software", k=n, case_id=case)
    d0 = searcher.search_ids("realm software", k=n, case_id=case,
                             mode="fuzzy", distance=0)
    assert list(d0["doc_id"]) == list(base["doc_id"])
    assert list(d0["score"]) == list(base["score"])  # bit-equal

    # expansion == brute-force Levenshtein over the case vocabulary
    from pyspark.sql import functions as F
    vocab = {
        r["term"]: int(r["df"])
        for r in searcher._term_stats.filter(F.col("case_id") == case)
        .groupBy("term").agg(F.sum("df").alias("df")).collect()
    }
    q, d = "relam", 2
    want = {
        t: (1.0 - _levenshtein(q, t) / min(len(q), len(t)), df)
        for t, df in vocab.items()
        if _levenshtein(q, t) <= d and _levenshtein(q, t) < min(len(q), len(t))
    }
    got = searcher.expand_fuzzy(case, {q: (d, 1.0)})
    assert got == want
    assert "realm" in got  # the transposed misspelling reaches d=2

    # single-expansion misspelling: scores == weight * exact scores
    exact = dict(zip(*(searcher.search_ids("realm", k=n, case_id=case)[c]
                       for c in ("doc_id", "score"))))
    only = searcher.expand_fuzzy(case, {"reolm": (1, 1.0)})
    assert set(only) == {"realm"} and only["realm"][0] == 1.0 - 1.0 / 5.0
    fz = searcher.search_ids("reolm~1", k=n, case_id=case, mode="fuzzy")
    assert set(fz["doc_id"]) == set(exact)
    w = only["realm"][0]
    for doc, s in zip(fz["doc_id"], fz["score"]):
        assert abs(s - w * exact[doc]) <= 1e-9 * max(1.0, abs(s))

    # boost composes multiplicatively on the fuzzy weight
    fb = searcher.search_ids("reolm~1^2", k=10, case_id=case, mode="fuzzy")
    f1 = searcher.search_ids("reolm~1", k=10, case_id=case, mode="fuzzy")
    assert list(fb["doc_id"]) == list(f1["doc_id"])
    for s2, s1 in zip(fb["score"], f1["score"]):
        assert abs(s2 - 2.0 * s1) <= 1e-12 * max(1.0, abs(s2))

    # Lucene's max_expansions cap keeps the best (w desc, df desc, term)
    best = max(want.items(), key=lambda kv: (kv[1][0], kv[1][1], kv[0]))
    capped = searcher.expand_fuzzy(case, {q: (d, 1.0)}, max_expansions=1)
    assert capped == {best[0]: best[1]}

    # pruning is lossless on the fuzzy path (weights fold into idf)
    old = searcher.prune_min_postings
    try:
        searcher.prune_min_postings = 0
        pruned = searcher.search_ids("relam~2 software", k=n, case_id=case,
                                     mode="fuzzy")
    finally:
        searcher.prune_min_postings = old
    plain = searcher.search_ids("relam~2 software", k=n, case_id=case,
                                mode="fuzzy")
    assert list(pruned["doc_id"]) == list(plain["doc_id"])
    assert list(pruned["score"]) == list(plain["score"])

    with pytest.raises(ValueError, match="fuzzy distance"):
        searcher.search_ids("realm~3", k=5, case_id=case, mode="fuzzy")
    with pytest.raises(ValueError, match="distance must be"):
        searcher.search_ids("realm", k=5, case_id=case, mode="fuzzy",
                            distance=5)


def test_prefix_query(searcher):
    """Lucene PrefixQuery (term*): the expansion equals a brute-force
    startswith sweep of the case vocabulary at weight 1; a prefix query
    scores bit-identically to the distance-0 fuzzy query over its
    expanded terms (same idf weights -> same plan); prefix boosts scale;
    the wildcard bypasses the analyzer."""
    case, n = "6", 500
    from pyspark.sql import functions as F

    vocab = {
        r["term"]: int(r["df"])
        for r in searcher._term_stats.filter(F.col("case_id") == case)
        .groupBy("term").agg(F.sum("df").alias("df")).collect()
    }
    want = {t: (1.0, df) for t, df in vocab.items() if t.startswith("rea")}
    got = searcher.expand_fuzzy(case, {}, prefixes={"rea": 1.0})
    assert got == want and len(got) >= 2

    # prefix == d0-fuzzy over the expanded terms, bit-identically (both
    # build the same {term: idf} and qtf=1 plan)
    via_pfx = searcher.search_ids("rea* software", k=n, case_id=case,
                                  mode="fuzzy")
    spelled = searcher.search_ids(" ".join(sorted(want)) + " software",
                                  k=n, case_id=case, mode="fuzzy",
                                  distance=0)
    assert list(via_pfx["doc_id"]) == list(spelled["doc_id"])
    assert list(via_pfx["score"]) == list(spelled["score"])

    # boost rides the prefix clause
    b2 = searcher.search_ids("rea*^2", k=10, case_id=case, mode="fuzzy")
    b1 = searcher.search_ids("rea*", k=10, case_id=case, mode="fuzzy")
    assert list(b2["doc_id"]) == list(b1["doc_id"])
    for s2, s1 in zip(b2["score"], b1["score"]):
        assert abs(s2 - 2.0 * s1) <= 1e-12 * max(1.0, abs(s2))

    # absent prefix -> empty; the wildcard is not analyzed (uppercase
    # input lowercases, nothing else)
    assert searcher.search_ids("zzz*", k=5, case_id=case,
                               mode="fuzzy").empty
    up = searcher.search_ids("REA*", k=10, case_id=case, mode="fuzzy")
    assert list(up["doc_id"]) == list(b1["doc_id"])
    assert list(up["score"]) == list(b1["score"])


def test_regexp_query(searcher):
    """Lucene RegexpQuery (/re/): the expansion equals a brute-force
    whole-term re.fullmatch sweep of the case vocabulary at weight 1; a
    regexp denoting the same term set as a prefix scores bit-identically
    to that prefix query (same {term: idf}, qtf=1 plan); boosts ride the
    clause; the pattern bypasses the analyzer (lowercased only); an
    invalid pattern fails fast on the driver."""
    import re as _re

    case, n = "6", 500
    from pyspark.sql import functions as F

    vocab = {
        r["term"]: int(r["df"])
        for r in searcher._term_stats.filter(F.col("case_id") == case)
        .groupBy("term").agg(F.sum("df").alias("df")).collect()
    }
    want = {t: (1.0, df) for t, df in vocab.items()
            if _re.fullmatch("rea.*", t)}
    got = searcher.expand_fuzzy(case, {}, regexps={"rea.*": 1.0})
    assert got == want and len(got) >= 2

    # /rea.*/ denotes the same term set as rea* -> bit-identical plan
    via_re = searcher.search_ids("/rea.*/ software", k=n, case_id=case,
                                 mode="fuzzy")
    via_pfx = searcher.search_ids("rea* software", k=n, case_id=case,
                                  mode="fuzzy")
    assert list(via_re["doc_id"]) == list(via_pfx["doc_id"])
    assert list(via_re["score"]) == list(via_pfx["score"])

    # boost rides the regexp clause; uppercase input lowercases
    b2 = searcher.search_ids("/rea.*/^2", k=10, case_id=case, mode="fuzzy")
    b1 = searcher.search_ids("/rea.*/", k=10, case_id=case, mode="fuzzy")
    assert list(b2["doc_id"]) == list(b1["doc_id"])
    for s2, s1 in zip(b2["score"], b1["score"]):
        assert abs(s2 - 2.0 * s1) <= 1e-12 * max(1.0, abs(s2))
    up = searcher.search_ids("/REA.*/", k=10, case_id=case, mode="fuzzy")
    assert list(up["doc_id"]) == list(b1["doc_id"])
    assert list(up["score"]) == list(b1["score"])

    # no vocabulary term matches -> empty; bad pattern -> driver-side error
    assert searcher.search_ids("/zzz+q/", k=5, case_id=case,
                               mode="fuzzy").empty
    with pytest.raises(ValueError, match="bad regexp"):
        searcher.search_ids("/rea(/", k=5, case_id=case, mode="fuzzy")


def test_suggest(searcher):
    """Searcher.suggest (Lucene DirectSpellChecker analog): suggestions
    equal a brute-force Levenshtein sweep of the case vocabulary ranked
    by (similarity desc, df desc, term asc), capped per term, never the
    term itself; input is lowercased; out-of-range max_edits rejected."""
    case = "6"
    from pyspark.sql import functions as F

    vocab = {
        r["term"]: int(r["df"])
        for r in searcher._term_stats.filter(F.col("case_id") == case)
        .groupBy("term").agg(F.sum("df").alias("df")).collect()
    }

    def brute(q, top=3):
        rows = []
        for t, df in vocab.items():
            d = _levenshtein(q, t)
            if 1 <= d <= 2 and d < min(len(q), len(t)):
                rows.append((1.0 - d / min(len(q), len(t)), df, t, d))
        rows.sort(key=lambda r: (-r[0], -r[1], r[2]))
        return [(q, t, d, df) for _w, df, t, d in rows[:top]]

    got = searcher.suggest(["reolm", "softwore"], case_id=case)
    got_rows = [(r["query_term"], r["suggestion"], r["dist"], r["df"])
                for r in got.orderBy("query_term", "suggestion").collect()]
    want = sorted(brute("reolm") + brute("softwore"))
    assert got_rows == want
    assert ("reolm", "realm", 1, vocab["realm"]) in got_rows
    # no dist-0 self-suggestion even for an in-vocabulary term
    in_vocab = searcher.suggest(["realm"], case_id=case).collect()
    assert all(r["suggestion"] != "realm" for r in in_vocab)
    # uppercase input lowercases (suggestions show typeable terms)
    up = [(r["query_term"], r["suggestion"]) for r in
          searcher.suggest(["REOLM"], case_id=case).collect()]
    assert all(q == "reolm" for q, _ in up) and len(up) == len(brute("reolm"))
    # cap + empties
    assert searcher.suggest(["reolm"], case_id=case, top=1).count() == 1
    assert searcher.suggest([], case_id=case).count() == 0
    with pytest.raises(ValueError, match="max_edits"):
        searcher.suggest(["x"], case_id=case, max_edits=3)


def test_more_like_this(searcher):
    """Searcher.more_like_this (Lucene MLT analog): term selection equals
    the brute-force tf*idf ranking over the analyzed text; the hits score
    bit-identically to the plain OR query over the selected terms; the
    funnel is lossless under pruning; degenerate inputs are empty."""
    from collections import Counter

    from pysearch import score as sc

    case, n = "6", 500
    text = ("In the realm of software, PDF search is a library problem; "
            "software libraries index software text.")
    hits, sel = searcher.more_like_this(text, k=n, case_id=case,
                                        return_terms=True)

    # selection == brute force over the analyzed text
    terms = searcher._analyze(text)
    counts = Counter(terms)
    n_docs, _avgdl, _ = searcher._corpus[case]
    dfs = searcher._term_dfs(case, terms)
    ranked = sorted(((counts[t] * sc.idf(n_docs, df), t)
                     for t, df in dfs.items()), key=lambda x: (-x[0], x[1]))
    assert sel == [t for _s, t in ranked[:5]] and len(sel) == 5

    # hits == the OR query over the selected terms, bit-identically
    # (valid independent path only if re-analysis is a no-op on these
    # stems — asserted, not assumed)
    assert searcher._analyze(" ".join(sel)) == sel
    plain = searcher.search_ids(" ".join(sel), k=n, case_id=case)
    assert list(hits["doc_id"]) == list(plain["doc_id"])
    assert list(hits["score"]) == list(plain["score"])

    # pruning losslessness on the MLT funnel
    old = searcher.prune_min_postings
    try:
        searcher.prune_min_postings = 0
        pruned = searcher.more_like_this(text, k=n, case_id=case)
    finally:
        searcher.prune_min_postings = old
    assert list(pruned["doc_id"]) == list(hits["doc_id"])
    assert list(pruned["score"]) == list(hits["score"])

    # fewer query terms -> the top-m prefix of the same ranking
    _h1, sel1 = searcher.more_like_this(text, k=5, case_id=case,
                                        max_query_terms=2,
                                        return_terms=True)
    assert sel1 == sel[:2]

    # degenerate inputs
    assert searcher.more_like_this("", k=5, case_id=case).empty
    assert searcher.more_like_this("zzzq qqzz", k=5, case_id=case).empty
    assert searcher.more_like_this(text, k=5, case_id="nosuch").empty
    with pytest.raises(ValueError, match="max_query_terms"):
        searcher.more_like_this(text, k=5, case_id=case, max_query_terms=0)


def test_compact_index(spark, tmp_path):
    """Compaction collapses append commit batches to one per table with
    bit-identical query results, a consistent index, and unchanged resume
    bookkeeping; re-running is a no-op."""
    from pysearch.compact import compact_index
    from pysearch.verify import verify_index

    d = str(tmp_path / "compact_ix")
    build_index(spark, corpus.webtext_df(spark, cases=corpus.CASES[:2]), d,
                segment_size=64)
    build_index(spark, corpus.webtext_df(spark, cases=[corpus.CASES[2]]), d,
                append=True)
    build_index(spark, corpus.webtext_df(spark, cases=[corpus.CASES[5]]), d,
                append=True)
    lay = IndexLayout(d)
    assert len(lay.list_commits(lay.docs)) == 3
    assert len(lay.list_commits(lay.postings)) >= 3

    def snap(s):
        return {
            c: [[int(x), float(y)] for x, y in
                zip(h["doc_id"], h["score"])]
            for c, t in (("1", "be the person who"), ("3", "be the person who"),
                         ("6", "in the realm of"))
            for h in [s.search_ids(t, k=10, case_id=c)]
        }

    before = snap(Searcher(spark, d))
    segs_before = lay.done_partitions("postings")

    res = compact_index(spark, d)
    assert res.get("docs") == 3 and res.get("postings") >= 3
    for t in (lay.docs, lay.doc_map, lay.postings, lay.lineage):
        assert len(lay.list_commits(t)) == 1, t

    assert verify_index(spark, d) == []
    assert snap(Searcher(spark, d)) == before  # bit-identical results
    assert lay.done_partitions("postings") == segs_before

    assert compact_index(spark, d) == {}  # idempotent no-op

    # an append after compaction keeps working and stays consistent
    build_index(spark, corpus.webtext_df(spark, cases=[corpus.CASES[3]]), d,
                append=True)
    assert verify_index(spark, d, check_crcs=False) == []
    h = Searcher(spark, d).search_ids("with good intentions for", k=10,
                                      case_id="4")
    assert len(h) == 10


def test_delta_finalize_matches_full_recompute(spark, tmp_path,
                                               monkeypatch):
    """Appends fold only their own postings batch into term_stats (one
    stats commit per batch) and into the manifest's per-case sum_dl.  The
    SUM over the stats commits must equal a from-scratch build of the
    union corpus — same df/cf per term, same corpus stats — and the fold
    set must cover every postings batch.  The append's finalize crashes
    once at its commit point (the manifest write), after its stats commit
    landed: re-running the append folds that batch exactly once."""
    from pyspark.sql import functions as F

    from pysearch.verify import verify_index

    d = str(tmp_path / "delta_ix")
    # same-case append: shared terms land in MULTIPLE stats commits, so the
    # reader-side sum is actually exercised (cross-case appends alone would
    # never overlap terms within a case)
    full = corpus.webtext_df(spark, cases=[(6, "in the realm of", 80, 200)])
    first = full.filter("url <= 'doc://6/0040'")
    second = full.filter("url > 'doc://6/0040'")
    build_index(spark, first, d, segment_size=16)

    lay = IndexLayout(d)

    class Crash(RuntimeError):
        pass

    real_commit = IndexLayout.commit_snapshot
    crashed = []

    def crash_once(self, manifest=None):
        if not crashed:
            crashed.append(sorted(
                int(os.path.basename(c).split("-", 1)[1])
                for c in lay.list_commits(lay.term_stats)))
            raise Crash("killed at the finalize commit point")
        return real_commit(self, manifest)

    monkeypatch.setattr(IndexLayout, "commit_snapshot", crash_once)
    with pytest.raises(Crash):
        build_index(spark, second, d, append=True)
    assert crashed == [[0, 1]]  # the append's stats commit had landed
    assert not lay.stage_done("finalize")
    build_index(spark, second, d, append=True)  # the rerun completes it
    monkeypatch.setattr(IndexLayout, "commit_snapshot", real_commit)

    # delta behavior really happened: one stats commit per postings batch
    post_batches = sorted(
        int(os.path.basename(c).split("-", 1)[1])
        for c in lay.list_commits(lay.postings)
    )
    ts_batches = sorted(
        int(os.path.basename(c).split("-", 1)[1])
        for c in lay.list_commits(lay.term_stats)
    )
    assert len(post_batches) >= 2
    assert ts_batches == post_batches
    m = lay.read_manifest()
    assert sorted(m["stages"]["finalize"]["folded"]) == post_batches

    def stats_of(ix):
        la = IndexLayout(ix)
        ts = (
            la.read_commits(spark, la.term_stats)
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        )
        rows = {r["term"]: (int(r["df"]), int(r["cf"]))
                for r in ts.collect()}
        return rows, Searcher(spark, ix)._corpus

    d2 = str(tmp_path / "full_ix")
    build_index(spark, full, d2, segment_size=16)
    assert stats_of(d) == stats_of(d2)
    assert verify_index(spark, d) == []


@pytest.mark.parametrize("mode", ["append", "resume"])
def test_append_fails_fast_on_missing_postings_batch(spark, tmp_path, mode):
    """Lineage referencing a postings batch absent on disk (the r2-ADVICE
    aliasing hazard) must abort an append — and a resume, which runs the
    same recovery — with a repair hint, not silently mis-drive orphan GC."""
    d = str(tmp_path / "inconsistent_ix")
    build_index(spark, corpus.webtext_df(spark, cases=[corpus.CASES[0]]), d,
                segment_size=64)
    build_index(spark, corpus.webtext_df(spark, cases=[corpus.CASES[1]]), d,
                append=True)
    lay = IndexLayout(d)
    victim = lay.list_commits(lay.postings)[-1]
    shutil.rmtree(victim)
    with pytest.raises(RuntimeError, match="absent on disk"):
        build_index(spark, corpus.webtext_df(spark, cases=[corpus.CASES[2]]),
                    d, **{mode: True})


def test_append_crash_recovery(spark, tmp_path):
    """An append that crashed after its docs commit but before postings is
    completed by simply re-running append: the catch-up pass builds the
    missing segments from the committed docs table."""
    from pysearch.verify import verify_index

    d = str(tmp_path / "crash_ix")
    full = corpus.webtext_df(spark, cases=[(6, "in the realm of", 100, 200)])
    first = full.filter("url <= 'doc://6/0050'")
    second = full.filter("url > 'doc://6/0050'")
    build_index(spark, first, d, segment_size=16)

    # simulate the crash: docs batch 1 committed + marked, postings never ran
    lay = IndexLayout(d)
    lay.clear_stage("postings")
    lay.clear_stage("finalize")
    docs_df, finish, _n = build_docs_stage(spark, second, lay, 16)
    finish()
    docs_df.unpersist()

    build_index(spark, second, d, append=True)  # re-run = recovery
    assert verify_index(spark, d) == []
    s = Searcher(spark, d)
    hits = s.search_ids("in the realm of", k=100, case_id="6")
    url_of = {r["doc_id"]: r["url"]
              for r in s.docs.select("doc_id", "url").collect()}
    got = sorted(int(url_of[i].rsplit("/", 1)[1]) for i in hits["doc_id"])
    assert got == [i for i in range(1, 101) if i % 3 != 2]


def test_empty_corpus_build(spark, tmp_path):
    """A build over zero rows completes cleanly (explicit-schema reads, no
    partitioned-write schema-inference crash) and searches return empty."""
    from pysearch.corpus import WEBTEXT_SCHEMA

    d = str(tmp_path / "empty_ix")
    empty = spark.createDataFrame([], schema=WEBTEXT_SCHEMA)
    build_index(spark, empty, d, segment_size=16)
    s = Searcher(spark, d)
    assert s.search_ids("anything at all", k=10, case_id="0").empty


def test_verify_index_flags_tampering(spark, tmp_path):
    """verify_index (reference CheckConsistency analog) passes a clean index
    and flags manifest drift (doc count, summed doc length), orphan
    commits, and CRC corruption."""
    import glob
    import json as _json

    import pyarrow.parquet as pq

    from pysearch.verify import verify_index

    d = str(tmp_path / "verify_ix")
    build_index(spark, corpus.webtext_df(spark, cases=[corpus.CASES[0]]), d,
                segment_size=16)
    assert verify_index(spark, d) == []

    # 1) manifest n_docs drift
    lay = IndexLayout(d)
    m = lay.read_manifest()
    m["stages"]["docs"]["n_docs"] += 1
    lay.write_manifest(m)
    assert any("manifest n_docs" in p for p in verify_index(spark, d))
    m["stages"]["docs"]["n_docs"] -= 1
    lay.write_manifest(m)

    # 2) a case's summed doc length (the avgdl numerator) drifts
    sum_dl = m["stages"]["finalize"]["sum_dl"]
    case = next(iter(sum_dl))
    sum_dl[case] += 1
    lay.write_manifest(m)
    assert [p for p in verify_index(spark, d, check_crcs=False)
            if "sum_dl" in p] == [
        f"case {case}: manifest sum_dl {sum_dl[case]} != term_stats cf "
        f"total {sum_dl[case] - 1}"]
    sum_dl[case] -= 1
    lay.write_manifest(m)

    # 3) flip a stored CRC in one postings part file
    part = sorted(glob.glob(f"{d}/postings/commit-*/**/*.parquet",
                            recursive=True))[0]
    t = pq.read_table(part)
    pdf = t.to_pandas()
    pdf.loc[0, "crc32"] = int(pdf.loc[0, "crc32"]) ^ 1
    import pyarrow as pa

    pq.write_table(pa.Table.from_pandas(pdf, schema=t.schema), part)
    # drop the stale Hadoop checksum sidecar so the tampered file is read
    side = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    if os.path.exists(side):
        os.remove(side)
    assert any("CRC32" in p for p in verify_index(spark, d))


def test_format_version_guard(spark, index, tmp_path):
    """An index written by an incompatible format refuses to resume."""
    import json
    import shutil

    from pysearch.lineage import IndexLayout

    d = str(tmp_path / "vguard")
    shutil.copytree(index, d)
    lay = IndexLayout(d)
    m = lay.read_manifest()
    m["format_version"] = 999
    lay.write_manifest(m)
    df = corpus.webtext_df(spark, cases=[(1, "be the person who", 5, 100)])
    with pytest.raises(RuntimeError, match="format version"):
        build_index(spark, df, d, resume=True)


def test_searcher_refuses_older_format(spark, index, tmp_path):
    """A Searcher refuses an index of another format version (a v3 index
    has no per-case sum_dl in its manifest) with the same rebuild error a
    build raises, instead of scoring with missing corpus stats."""
    d = str(tmp_path / "v3")
    shutil.copytree(index, d)
    lay = IndexLayout(d)
    m = lay.read_manifest()
    m["format_version"] = 3
    lay.write_manifest(m)
    with pytest.raises(RuntimeError, match="format version 3.*rebuild"):
        Searcher(spark, d)


def test_resume_equals_fresh_build(spark, index):
    """Kill-mid-postings resume: a build interrupted after a bounded batch
    of segments, then resumed, yields byte-identical postings and ranks."""
    resume_dir = "/tmp/pysearch_test_resume"
    shutil.rmtree(resume_dir, ignore_errors=True)
    cases = [(6, "in the realm of", 500, 200)]
    df = corpus.webtext_df(spark, cases=cases)

    layout = IndexLayout(resume_dir)
    from pysearch.version import INDEX_FORMAT_VERSION

    layout.write_manifest({"format_version": INDEX_FORMAT_VERSION,
                           "segment_size": 64, "n_buckets": 64})
    docs_df, finish, _n = build_docs_stage(spark, df, layout, segment_size=64)
    finish()
    docs_df.unpersist()
    # simulate crash: only 3 segments built, stage not marked complete
    build_postings_stage(spark, layout, n_buckets=64, max_segments=3)()
    assert not layout.stage_done("postings")
    done_before = layout.done_partitions("postings")
    assert len(done_before) == 3

    # resume to completion
    build_index(spark, df, resume_dir, resume=True)
    assert layout.stage_done("finalize")
    done_after = layout.done_partitions("postings")
    assert done_before <= done_after and len(done_after) == 8

    # rank identity vs the session index (built fresh in one shot)
    s2 = Searcher(spark, resume_dir)
    with open(os.path.join(GOLDEN_DIR, "case_6_top10.json")) as f:
        golden = json.load(f)
    hits = s2.search_ids("in the realm of", k=10, case_id="6")
    got = [[int(d), float(s)] for d, s in zip(hits["doc_id"], hits["score"])]
    assert got == golden["top"]
    shutil.rmtree(resume_dir, ignore_errors=True)


def test_doc_id_assignment_partition_invariant(spark):
    """doc_id = per-case url rank, identical across partition counts."""
    from pysearch.build import _assign_doc_ids

    from pyspark.sql import functions as F

    df = corpus.webtext_df(spark, cases=[(3, "be the person who", 50, 100)])
    df = df.select("case_id", "url", F.sha2("html", 256).alias("content_hash"))
    a1, p1, _c1 = _assign_doc_ids(spark, df, 2)
    a2, p2, _c2 = _assign_doc_ids(spark, df, 11)
    m1 = {r["url"]: r["doc_id"] for r in a1.collect()}
    m2 = {r["url"]: r["doc_id"] for r in a2.collect()}
    p1.unpersist()
    p2.unpersist()
    assert m1 == m2
    assert m1[f"doc://3/0007"] == 7


def test_build_from_html_only(spark):
    """Index built from html alone (text derived by extraction) ranks
    identically — the per-row extraction invariant end to end."""
    d = "/tmp/pysearch_test_htmlonly"
    shutil.rmtree(d, ignore_errors=True)
    df = corpus.webtext_df(spark, cases=[(1, "be the person who", 5, 100)])
    df_html = df.drop("text")
    build_index(spark, df_html, d, segment_size=64)
    s = Searcher(spark, d)
    with open(os.path.join(GOLDEN_DIR, "case_1_top10.json")) as f:
        golden = json.load(f)
    hits = s.search_ids("be the person who", k=10, case_id="1")
    got = [[int(x), float(y)] for x, y in zip(hits["doc_id"], hits["score"])]
    assert got == golden["top"]
    shutil.rmtree(d, ignore_errors=True)


def test_exact_duplicate_docs_deduped(spark):
    """P4 content dedupe: identical html under two urls -> one indexed doc."""
    import pandas as pd

    d = "/tmp/pysearch_test_dedup"
    shutil.rmtree(d, ignore_errors=True)
    rows = [corpus.row(1, i, "a cornucopia of", 6, 100) for i in range(1, 7)]
    dup = dict(rows[0])
    dup["url"] = "doc://1/9999"  # same content, different url
    rows.append(dup)
    rows.append(dict(rows[1]))  # exact duplicate row (same url AND content)
    pdf = pd.DataFrame(rows)
    df = spark.createDataFrame(pdf)
    build_index(spark, df, d, segment_size=64)
    s = Searcher(spark, d)
    n_docs = s._corpus["1"][0]
    assert n_docs == 6
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def skew_ix(spark, tmp_path_factory):
    """Skewed corpus: 16 segments x 4 posting blocks of 'hotword'; only
    the 2 lowest-doc-id docs per segment carry tf=20 (they land in block 0,
    postings being doc-sorted), the rest tf=1."""
    import pandas as pd

    n, seg = 8192, 512
    rows = []
    for i in range(n):
        local = i % seg
        body = ("hotword " * 20) if local < 2 else "hotword"
        # unique token per doc prevents P4 content dedupe from collapsing
        # identical texts; filler stabilizes dl
        rows.append((f"doc{i:06d}", f"{body} u{i:06d} " + "pad " * 10))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "text"])
    )
    ix = str(tmp_path_factory.mktemp("skew") / "skew_ix")
    build_index(spark, df, ix, segment_size=seg, analyzer="simple")
    return ix


def test_block_max_pruning_skips_cold_blocks(spark, skew_ix):
    """Block-max WAND: inside segments that survive θ, blocks whose BM25
    upper bound cannot reach θ are dropped BEFORE decode — and the results
    stay bit-identical to the unpruned path.

    On the skewed corpus (skew_ix), phase 2 must keep block 0 of each
    surviving segment and prune the three tf=1 blocks."""
    s = Searcher(spark, skew_ix)
    s.prune_min_postings = 0
    s.count_scored_blocks = True
    pruned = s.search_ids("hotword", k=10, case_id="0")
    counts = s.last_block_counts
    unpruned = s.search_ids("hotword", k=10, case_id="0", prune=False)
    # bit-identical results
    assert list(pruned["doc_id"]) == list(unpruned["doc_id"])
    assert list(pruned["score"]) == list(unpruned["score"])
    # decode-volume evidence: 64 candidate blocks; 8 phase-1 segments score
    # all 4 of their blocks, the other 8 segments keep only the hot block
    assert counts is not None, "pruning phase did not run"
    assert counts["candidate"] == 64, counts
    assert counts["scored"] <= 44, counts  # 32 phase-1 + 8 hot + slack
    assert counts["scored"] < counts["candidate"]


def _jobs(spark, fn, group):
    """(fn(), number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_pruned_query_runs_four_jobs(spark, skew_ix):
    """The bounds, θ and block cuts are computed on the driver from one
    arrow read of the block metadata, so a pruned multi-term query runs
    only its two scoring passes: phase 1 and phase 2, two jobs each (the
    segment exchange and the top-k).  Unpruned it runs one pass."""
    s = Searcher(spark, skew_ix)
    s.prune_min_postings = 0
    s.local_max_postings = 1  # unpruned: distributed too
    q = "hotword pad"
    s.search_ids(q, k=10, case_id="0")  # warm: the term-df lookup
    pruned, n_on = _jobs(spark, lambda: s.search_ids(q, k=10, case_id="0"),
                         "prune-on")
    unpruned, n_off = _jobs(
        spark, lambda: s.search_ids(q, k=10, case_id="0", prune=False),
        "prune-off")
    assert pruned.equals(unpruned)
    assert (n_on, n_off) == (4, 2)
    # a one-term plan takes the same grouped scorer: the same job counts
    one_on = _jobs(spark, lambda: s.search_ids("hotword", k=10,
                                                case_id="0"), "one-on")[1]
    one_off = _jobs(spark, lambda: s.search_ids("hotword", k=10, case_id="0",
                                                 prune=False), "one-off")[1]
    assert (one_on, one_off) == (4, 2)


@pytest.mark.parametrize("mode", ["any", "all"])
def test_one_term_query_on_the_common_path(spark, skew_ix, mode):
    """A one-term any/all plan has no path of its own: forced distributed
    and forced pruned it equals the driver-local answer and the batch of
    one through search_ids_many, on page 1 and page 2."""
    import pandas as pd

    local = Searcher(spark, skew_ix)
    dist = Searcher(spark, skew_ix)
    dist.local_max_postings = 0
    pruned = Searcher(spark, skew_ix)
    pruned.prune_min_postings = 0
    for offset in (0, 5):
        want = local.search_ids("hotword", k=10, case_id="0", mode=mode,
                                offset=offset)
        assert len(want) == 10
        for s in (local, dist, pruned):
            pd.testing.assert_frame_equal(
                s.search_ids("hotword", k=10, case_id="0", mode=mode,
                             offset=offset), want)
            if offset == 0:
                many = s.search_ids_many({"q": "hotword"}, k=10,
                                         case_id="0", mode=mode)
                pd.testing.assert_frame_equal(many.drop(columns="qid"), want)


def test_prune_bound_read_gate_both_sides(spark, skew_ix, monkeypatch):
    """The bound table comes from a driver arrow read under
    gate.METRICS_LOCAL_MAX_BLOCKS and from one Spark aggregate above it or
    with the driver-local paths off; the pruning after it is the same
    code, so results and scored-block counts are identical."""
    import pandas as pd

    def run(**attrs):
        s = Searcher(spark, skew_ix)
        s.prune_min_postings = 0
        s.count_scored_blocks = True
        for a, v in attrs.items():
            setattr(s, a, v)
        out = [s.search_ids(q, k=10, case_id="0")
               for q in ("hotword", "hotword pad")]
        counts = [s.last_block_counts]
        for mode in ("any", "all"):
            out.append(s.search_ids_many(
                {"a": "hotword", "b": "hotword pad", "c": "pad"}, k=10,
                case_id="0", mode=mode))
            counts.append(s.last_block_counts)
        return out, counts

    local, local_counts = run()
    dist, dist_counts = run(local_max_postings=0)
    monkeypatch.setattr("pysearch.gate.METRICS_LOCAL_MAX_BLOCKS", 0)
    spark_read, spark_counts = run()
    assert all(c is not None for c in local_counts), local_counts
    assert local_counts == dist_counts == spark_counts
    for a, b, c in zip(local, dist, spark_read):
        pd.testing.assert_frame_equal(a, b)
        pd.testing.assert_frame_equal(a, c)


def test_pruning_keeps_tie_at_theta_outside_phase1(spark, tmp_path):
    """A segment whose bound EQUALS θ must reach phase 2: its docs tie the
    kth score and win the doc_id tie-break.  Segments 8-15 hold a doc
    with tf=3 and a long dl beside short tf=1 docs, so their (max_tf,
    min_dl) bound is loose and high — phase 1 takes them and finds θ =
    the short docs' score.  Segment 0 holds only short docs: its bound is
    exactly θ, its doc_ids are the lowest, so the top-k comes from it.
    The driver's bound sums round differently from the scorer's, so this
    pins that the pruner's comparison errs towards keeping blocks."""
    import pandas as pd

    seg, rows = 16, []
    for i in range(16 * seg):
        s_id, local = divmod(i, seg)
        if s_id == 0 or (s_id >= 8 and local > 0):
            body = "w v " + "pad " * 7
        elif s_id >= 8:
            body = "w w w v " + "pad " * 59
        else:
            body = "pad " * 9
        rows.append((f"doc{i:04d}", f"u{i:04d} {body}"))
    ix = str(tmp_path / "tie_ix")
    build_index(spark, spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "text"])), ix, segment_size=seg,
        analyzer="simple")
    s = Searcher(spark, ix)
    s.prune_min_postings = 0
    s.count_scored_blocks = True
    for q in ("w", "w v"):
        s.last_block_counts = None
        pruned = s.search_ids(q, k=3, case_id="0")
        assert s.last_block_counts is not None, q  # phase 2 ran
        unpruned = s.search_ids(q, k=3, case_id="0", prune=False)
        assert pruned.equals(unpruned), q
        assert list(pruned["doc_id"]) == [1, 2, 3], q


def test_k0_returns_no_rows(spark, skew_ix):
    """k=0 answers an empty frame on both sides of the prune gate, and
    from the batch."""
    s = Searcher(spark, skew_ix)
    for gate in (0, s.prune_min_postings):
        s.prune_min_postings = gate
        for q in ("hotword", "hotword pad"):
            out = s.search_ids(q, k=0, case_id="0")
            assert len(out) == 0 and list(out.columns) == ["doc_id",
                                                           "score"]
        many = s.search_ids_many({"a": "hotword", "b": "hotword pad"}, k=0,
                                 case_id="0")
        assert len(many) == 0 and list(many.columns) == ["qid", "doc_id",
                                                         "score"]


def test_batched_block_pruning_matches_per_query(spark, tmp_path):
    """Per-query block-max pruning in the BATCHED query-log scan
    (_prune_blocks over a batch): results stay bit-identical to both the
    unpruned batched pass and per-query search_ids, across match modes,
    while the decode volume drops below the candidate block count.

    Skewed corpus, 16 segments x 512 docs: 'alpha' is hot (tf=20) only in
    the 2 lowest-local docs per segment, 'beta' hot in two other slots,
    'rare' appears only in the first two segments (its whole posting list
    fits in phase 1 — the query is final there), plus a dead query."""
    import pandas as pd

    n, seg = 8192, 512
    rows = []
    for i in range(n):
        local = i % seg
        parts = [("alpha " * 20) if local < 2 else "alpha"]
        if local in (5, 6):
            parts.append("beta " * 16)
        elif local % 3 == 0:
            parts.append("beta")
        if i < 2 * seg and local == 7:
            parts.append("rare " * 4)
        rows.append((f"doc{i:06d}",
                     " ".join(parts) + f" u{i:06d} " + "pad " * 10))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "text"]))
    ix = str(tmp_path / "skew_many_ix")
    build_index(spark, df, ix, segment_size=seg, analyzer="simple")

    s = Searcher(spark, ix)
    s.prune_min_postings = 0
    qs = {"qa": "alpha", "qb": "beta", "qab": "alpha beta",
          "qr": "rare", "qdead": "zzznope"}
    for mode in ("any", "all"):
        s.count_scored_blocks = True
        s.last_block_counts = None
        batch = s.search_ids_many(qs, k=10, case_id="0", mode=mode)
        counts = s.last_block_counts
        unpruned = s.search_ids_many(qs, k=10, case_id="0", mode=mode,
                                     prune=False)
        pd.testing.assert_frame_equal(batch, unpruned)
        for qid, q in qs.items():
            single = s.search_ids(q, k=10, case_id="0", prune=False,
                                  mode=mode)
            sub = batch[batch["qid"] == qid].reset_index(drop=True)
            assert list(sub["doc_id"]) == list(single["doc_id"]), (qid, mode)
            assert list(sub["score"]) == list(single["score"]), (qid, mode)
        assert counts is not None, mode
        assert counts["scored"] < counts["candidate"], (mode, counts)

    # the batch gate scales with |queries| (shared decode raises the
    # amortization bar): at the default gate this small corpus must skip
    # pruning entirely — no bound jobs, no counts recorded
    from pysearch.query import PRUNE_MIN_POSTINGS

    s.prune_min_postings = PRUNE_MIN_POSTINGS
    s.count_scored_blocks = True
    s.last_block_counts = None
    gated = s.search_ids_many(qs, k=10, case_id="0")
    assert s.last_block_counts is None
    pd.testing.assert_frame_equal(
        gated, s.search_ids_many(qs, k=10, case_id="0", prune=False))


def test_searcher_staleness_guard(spark, tmp_path):
    """A Searcher whose index is appended/compacted by ANOTHER writer is
    never silently stale: default on_stale="refresh" returns post-append
    results; on_stale="raise" refuses until refresh()."""
    d = str(tmp_path / "stale_ix")
    df = corpus.webtext_df(spark, cases=[(6, "in the realm of", 30, 200)])
    build_index(spark, df, d, segment_size=16)

    s_refresh = Searcher(spark, d)                      # default: refresh
    s_raise = Searcher(spark, d, on_stale="raise")
    before = s_refresh.search_ids("realm", k=100, case_id="6")
    assert not s_refresh.stale() and not s_raise.stale()

    # second writer appends 30 more docs under different urls
    from pyspark.sql import functions as F

    # doc_len 300 (not 200) makes the appended texts content-distinct, so
    # append's content dedupe doesn't drop them as duplicates
    more = corpus.webtext_df(spark, cases=[(6, "in the realm of", 30, 300)])
    more = more.withColumn("url", F.concat(F.lit("x"), "url"))
    build_index(spark, more, d, append=True, segment_size=16)

    assert s_refresh.stale() and s_raise.stale()
    with pytest.raises(RuntimeError, match="changed underneath"):
        s_raise.search_ids("realm", k=100, case_id="6")
    after = s_refresh.search_ids("realm", k=100, case_id="6")
    assert len(after) == 2 * len(before)  # sees the appended docs
    assert not s_refresh.stale()
    # the refusing Searcher recovers via explicit refresh()
    s_raise.refresh()
    again = s_raise.search_ids("realm", k=100, case_id="6")
    assert list(again["doc_id"]) == list(after["doc_id"])
    assert list(again["score"]) == list(after["score"])

    # compaction is also detected (manifest rewrite)
    from pysearch.compact import compact_index

    compact_index(spark, d)
    assert s_refresh.stale()
    post = s_refresh.search_ids("realm", k=100, case_id="6")
    assert list(post["score"]) == list(after["score"])


def _posthoc(full, mask, k=10):
    """The filter-context oracle: apply the predicate to the FULL unfiltered
    ranking, take the top-k — what a correct filtered search must equal
    bit-exactly (same scores: BM25 stats stay corpus-wide)."""
    return full[mask(full["doc_id"])].head(k).reset_index(drop=True)


def test_filter_context(searcher):
    """Lucene-filtered-query semantics: only allowed docs match, scores are
    bit-identical to the unfiltered ranking (corpus-wide idf/avgdl), across
    the string-predicate and filter_docs DataFrame forms, modes any/all/
    boolean/fuzzy, and prune on/off (θ from FILTERED phase-1 scores keeps
    block-max pruning lossless under a filter)."""
    from pyspark.sql import functions as F

    case_id, term, n, _l = CASES[6]          # case 7: 5000 docs — pruning
    cid = str(case_id)                       # really engages
    full = searcher.search_ids(term, k=n, case_id=cid, prune=False)
    assert len(full) > 100, "fixture must produce a deep unfiltered ranking"
    exp = _posthoc(full, lambda d: d % 3 == 1)
    allowed = searcher.docs.filter(
        (F.col("case_id") == cid) & (F.col("doc_id") % 3 == 1)
    ).select("doc_id")

    old = searcher.prune_min_postings
    try:
        for prune in (False, True):
            searcher.prune_min_postings = 0  # force the gate: prune=True
            got_s = searcher.search_ids(term, k=10, case_id=cid, prune=prune,
                                        filter="doc_id % 3 = 1")
            got_d = searcher.search_ids(term, k=10, case_id=cid, prune=prune,
                                        filter_docs=allowed)
            assert got_s.equals(exp), f"string filter, prune={prune}"
            assert got_d.equals(exp), f"filter_docs, prune={prune}"
    finally:
        searcher.prune_min_postings = old

    # both forms together = intersection
    both = searcher.search_ids(term, k=10, case_id=cid,
                               filter="doc_id % 2 = 0", filter_docs=allowed)
    assert both.equals(_posthoc(full, lambda d: (d % 3 == 1) & (d % 2 == 0)))

    # filter admitting nothing -> empty result (not an error)
    assert searcher.search_ids(term, k=10, case_id=cid,
                               filter="doc_id < 0").empty

    # single-term queries route through the grouped path under a filter
    # (the mapInPandas fast path has no per-segment allowed slice)
    one = term.split()[-1]
    full1 = searcher.search_ids(one, k=n, case_id=cid, prune=False)
    got1 = searcher.search_ids(one, k=10, case_id=cid,
                               filter="doc_id % 3 = 1")
    assert got1.equals(_posthoc(full1, lambda d: d % 3 == 1))

    # mode="all": conjunctive intersection under the filter
    fulla = searcher.search_ids(term, k=n, case_id=cid, mode="all",
                                prune=False)
    gota = searcher.search_ids(term, k=10, case_id=cid, mode="all",
                               filter="doc_id % 3 = 1")
    assert gota.equals(_posthoc(fulla, lambda d: d % 3 == 1))

    # mode="boolean": gates compose with the filter
    w = term.split()
    bq = f"+{w[-1]} {w[0]}"
    fullb = searcher.search_ids(bq, k=n, case_id=cid, mode="boolean")
    gotb = searcher.search_ids(bq, k=10, case_id=cid, mode="boolean",
                               filter="doc_id % 3 = 1")
    assert gotb.equals(_posthoc(fullb, lambda d: d % 3 == 1))

    # mode="fuzzy": expansion weights unchanged, filter gates candidates
    fq = f"{term.split()[-1]}~1"
    fullf = searcher.search_ids(fq, k=n, case_id=cid, mode="fuzzy",
                                prune=False)
    gotf = searcher.search_ids(fq, k=10, case_id=cid, mode="fuzzy",
                               filter="doc_id % 3 = 1")
    assert gotf.equals(_posthoc(fullf, lambda d: d % 3 == 1))

    # url-predicate form (site:-style filtering over the catalog column)
    some_urls = sorted(
        r["url"] for r in searcher.docs.filter(F.col("case_id") == cid)
        .select("url").limit(200).collect()
    )
    prefix = some_urls[0][: len(some_urls[0]) - 2]
    allowed_ids = {
        int(r["doc_id"]) for r in searcher.docs.filter(
            (F.col("case_id") == cid) & F.col("url").startswith(prefix)
        ).select("doc_id").collect()
    }
    assert allowed_ids, "prefix must select at least one url"
    gotu = searcher.search_ids(term, k=10, case_id=cid,
                               filter=f"url like '{prefix}%'")
    assert gotu.equals(_posthoc(full, lambda d: d.isin(allowed_ids)))


def test_filter_context_full_search(searcher, spark):
    """search() (spans + Best filter) honors the filter context: the match
    set is exactly the filtered search_ids set."""
    case_id, term, n, _l = CASES[5]
    cid = str(case_id)
    ids = searcher.search_ids(term, k=10, case_id=cid,
                              filter="doc_id % 2 = 0")
    assert len(ids) and (ids["doc_id"] % 2 == 0).all()
    res = searcher.search(term, k=10, case_id=cid, filter="doc_id % 2 = 0")
    got = sorted(int(r["doc_id"]) for r in res.select("doc_id").collect())
    assert got == sorted(int(d) for d in ids["doc_id"])


def test_pagination_offset(searcher):
    """offset= paginates the deterministic total order: page N equals
    rows [offset, offset+k) of the full ranking bit-exactly (prune θ is
    the (offset+k)th score, so pruning stays lossless on any page), pages
    tile without overlap or gaps, and every mode honors it."""
    case_id, term, n, _l = CASES[6]
    cid = str(case_id)
    full = searcher.search_ids(term, k=n, case_id=cid, prune=False)
    assert len(full) > 30

    old = searcher.prune_min_postings
    try:
        for prune in (False, True):
            searcher.prune_min_postings = 0
            pages = [
                searcher.search_ids(term, k=10, case_id=cid, prune=prune,
                                    offset=off)
                for off in (0, 10, 20)
            ]
            for i, page in enumerate(pages):
                want = full.iloc[10 * i:10 * (i + 1)].reset_index(drop=True)
                assert page.equals(want), f"page {i}, prune={prune}"
    finally:
        searcher.prune_min_postings = old

    # offset past the result set -> empty, not an error
    assert searcher.search_ids(term, k=10, case_id=cid,
                               offset=len(full)).empty
    with pytest.raises(ValueError, match="offset"):
        searcher.search_ids(term, k=10, case_id=cid, offset=-1)

    # boolean and fuzzy paginate the same way
    w = term.split()
    bq = f"+{w[-1]} {w[0]}"
    fullb = searcher.search_ids(bq, k=n, case_id=cid, mode="boolean")
    gotb = searcher.search_ids(bq, k=10, case_id=cid, mode="boolean",
                               offset=10)
    assert gotb.equals(fullb.iloc[10:20].reset_index(drop=True))
    fq = f"{w[-1]}~1"
    fullf = searcher.search_ids(fq, k=n, case_id=cid, mode="fuzzy",
                                prune=False)
    gotf = searcher.search_ids(fq, k=10, case_id=cid, mode="fuzzy",
                               offset=10)
    assert gotf.equals(fullf.iloc[10:20].reset_index(drop=True))

    # offset composes with the filter context
    gotfc = searcher.search_ids(term, k=10, case_id=cid,
                                filter="doc_id % 3 = 1", offset=10)
    expfc = (full[full["doc_id"] % 3 == 1].iloc[10:20]
             .reset_index(drop=True))
    assert gotfc.equals(expfc)


def test_count_total_hits(searcher):
    """Searcher.count == the exact number of matching docs (the length of
    the exhaustive ranking) for any/all, honors the filter context, and
    single-term counts short-circuit to term_stats df metadata."""
    case_id, term, n, _l = CASES[6]
    cid = str(case_id)
    full_any = searcher.search_ids(term, k=n, case_id=cid, prune=False)
    assert searcher.count(term, case_id=cid, mode="any") == len(full_any)
    full_all = searcher.search_ids(term, k=n, case_id=cid, mode="all",
                                   prune=False)
    assert searcher.count(term, case_id=cid, mode="all") == len(full_all)

    one = term.split()[-1]
    full_one = searcher.search_ids(one, k=n, case_id=cid, prune=False)
    # metadata fast path (df) must agree with the exhaustive ranking
    assert searcher.count(one, case_id=cid) == len(full_one)
    # ^boost syntax parses instead of tokenizing into a bogus term —
    # boosts weight scores, so the match COUNT is unchanged
    assert searcher.count(f"{one}^2", case_id=cid) == len(full_one)

    # filter context: count only allowed docs
    got = searcher.count(term, case_id=cid, mode="any",
                         filter="doc_id % 3 = 1")
    assert got == int((full_any["doc_id"] % 3 == 1).sum())

    assert searcher.count("zzzznothing", case_id=cid) == 0
    assert searcher.count(term, case_id="no-such-case") == 0
    with pytest.raises(ValueError, match="mode"):
        searcher.count(term, case_id=cid, mode="boolean")
