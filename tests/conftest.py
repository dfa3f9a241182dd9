import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pysearch.session import build_spark

    n = os.environ.get("PYSEARCH_TEST_CORES", "8")
    spark = build_spark(master=f"local[{n}]", app_name="pysearch-tests",
                        shuffle_partitions=int(n))
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def index(spark):
    """Full 8-case doMatch index, built once per test session."""
    import shutil

    from pysearch import corpus
    from pysearch.build import build_index

    index_dir = "/tmp/pysearch_test_index"
    df = corpus.webtext_df(spark, cases=corpus.CASES)
    shutil.rmtree(index_dir, ignore_errors=True)
    build_index(spark, df, index_dir, segment_size=256)
    return index_dir


@pytest.fixture(scope="session")
def recovered_ix(spark, tmp_path_factory):
    """A 100-doc base index whose 50-doc append was killed between its docs
    commit and its docs lineage row, then recovered by
    ``build_index(resume=True)``.  Returns (index dir, {query: the base
    index's search_ids answer})."""
    from pysearch import corpus
    from pysearch.build import build_index
    from pysearch.lineage import IndexLayout
    from pysearch.query import Searcher

    d = str(tmp_path_factory.mktemp("recovered") / "ix")
    full = corpus.webtext_df(spark, cases=[(6, "in the realm of", 150, 200)])
    build_index(spark, full.filter("url <= 'doc://6/0100'"), d,
                segment_size=32)
    s = Searcher(spark, d)
    want = {q: s.search_ids(q, k=10, case_id="6")
            for q in ("realm", "in the realm of", "the")}

    class Crash(RuntimeError):
        pass

    real = IndexLayout.append_lineage

    def crash_on_docs(self, spark_, rows):
        if rows and rows[0]["stage"] == "docs":
            raise Crash("killed before the docs lineage row")
        return real(self, spark_, rows)

    IndexLayout.append_lineage = crash_on_docs
    try:
        with pytest.raises(Crash):
            build_index(spark, full.filter("url > 'doc://6/0100'"), d,
                        append=True)
    finally:
        IndexLayout.append_lineage = real
    lay = IndexLayout(d)
    assert len(lay.list_commits(lay.docs)) == 2  # the orphan batch
    build_index(spark, full, d, resume=True)
    return d, want
