"""Odd inputs and failures get the right answer or a clean error: the lang
facet keeps a NULL-lang group like its DuckDB oracle, a docs stage whose
id assignment fails re-raises that error with no frame left persisted, and
an append that crashed before its docs lineage row recovers under
``build_index(resume=True)`` to the base index."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("PYSEARCH_TEST_SF", "/root/testdata/sf0.001")


def test_facet_lang_keeps_null_group(spark, tmp_path):
    """Over a copy of the tables with every even doc's lang NULL, the op
    and the frozen oracle SQL agree, NULL group included."""
    import __spark_entry__ as entrymod
    from pysearch.ops import OPS

    sf = tmp_path / "sf_null_lang"
    sf.mkdir()
    src = f"{SF_DIR}/documents.parquet"
    duckdb.sql(
        f"COPY (SELECT * REPLACE (CASE WHEN doc_id % 2 = 0 THEN NULL "
        f"ELSE lang END AS lang) FROM '{src}') "
        f"TO '{sf}/documents.parquet' (FORMAT PARQUET)")
    got = sorted(
        (r["lang"] or "", r["n_hits"], r["top_score_r"])
        for r in OPS["t1_engine_facet_lang"][0](spark, str(sf)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet'")
    want = sorted(
        (lang or "", n, round(float(top), 4)) for lang, n, top in
        con.sql(entrymod.oracle_sql()["t1_engine_facet_lang"]).fetchall())
    assert got == want
    assert any(lang == "" for lang, _n, _t in got), "no NULL-lang hit"


def test_docs_stage_failure_unpersists_and_reraises(spark, tmp_path,
                                                    monkeypatch):
    from pysearch import build, corpus

    class Boom(RuntimeError):
        pass

    def fail(*_a, **_kw):
        raise Boom("id assignment failed")

    df = corpus.webtext_df(spark, cases=[c for c in corpus.CASES
                                         if c[0] == 7])
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(build, "_assign_doc_ids", fail)
    with pytest.raises(Boom, match="id assignment failed"):
        build.build_index(spark, df, str(tmp_path / "ix"))
    assert jsc.getPersistentRDDs().size() == before


def test_resume_drops_append_docs_orphaned_before_lineage(spark,
                                                         recovered_ix):
    """An append that crashes between its docs commit and its docs lineage
    row leaves an orphan docs batch (and its doc_map batch).  A resumed
    build removes it, like an append does, so the recovered index passes
    verify_index and answers exactly as the base index did."""
    from pysearch.lineage import IndexLayout
    from pysearch.query import Searcher
    from pysearch.verify import verify_index

    d, want = recovered_ix
    lay = IndexLayout(d)
    assert len(lay.list_commits(lay.docs)) == 1
    assert len(lay.list_commits(lay.doc_map)) == 1
    assert verify_index(spark, d) == []
    s = Searcher(spark, d)
    for q, hits in want.items():
        assert s.search_ids(q, k=10, case_id="6").equals(hits), q


def test_stopword_only_first_build_compacts_coherently(spark, tmp_path):
    """A first build whose every token is a stopword writes no blocks and
    no stats; an append then brings stats commit 1.  Compaction renumbers
    postings to batch 0 and must take that lone stats commit with it, or
    the next append's stats commit 1 would replace it: after the compaction
    and a second append, verify_index stays green."""
    from pysearch.build import build_index
    from pysearch.compact import compact_index
    from pysearch.lineage import IndexLayout
    from pysearch.schema import WEBTEXT
    from pysearch.verify import verify_index

    def rows(lo, hi, text):
        return spark.createDataFrame(
            [(f"doc://9/{i:04d}", None, None, text, "en", "9")
             for i in range(lo, hi)], schema=WEBTEXT)

    stop = rows(0, 4, "the of and a")
    words = [rows(4, 8, "realm of quiet intentions"),
             rows(8, 12, "quiet rivers of the realm")]
    d = str(tmp_path / "ix")
    build_index(spark, stop, d, segment_size=4)
    build_index(spark, words[0], d, append=True)
    lay = IndexLayout(d)
    assert [os.path.basename(c) for c in lay.list_commits(lay.term_stats)] \
        == ["commit-00001"]
    assert compact_index(spark, d).get("term_stats") == 1
    assert [os.path.basename(c) for c in lay.list_commits(lay.term_stats)] \
        == ["commit-00000"]
    build_index(spark, words[1], d, append=True)
    # the manifest's sum_dl and the block totals both count words[0]'s
    # stats, so a replaced stats commit would fail both checks
    assert verify_index(spark, d, check_crcs=False) == []
