"""IndexLayout's two table readers.  The large tables are read by Spark
with their declared schemas (no schema-inference job per commit); the
bookkeeping tables (lineage, tombstones) are read on the driver with
pyarrow and run no Spark job.  Lineage commits written by
Spark — as compactions before the one lineage writer did — read the same
as pyarrow-written ones.  Outside lineage.py the package calls
``spark.read.parquet`` only on source inputs."""

import ast
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pysearch import corpus  # noqa: E402
from pysearch.build import build_index  # noqa: E402
from pysearch.lineage import IndexLayout  # noqa: E402

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "pysearch")


@pytest.fixture(scope="module")
def tombstoned_ix(spark, recovered_ix, tmp_path_factory):
    """A copy of the recovered index (one batch per table, 100 docs in
    segments of 32) with two pending deletes."""
    from pysearch.delete import delete_docs

    ix = str(tmp_path_factory.mktemp("readers") / "ix")
    shutil.copytree(recovered_ix[0], ix)
    assert delete_docs(spark, ix, urls=["doc://6/0003", "doc://6/0090"]) == 2
    return ix


def _jobs(spark, fn, group):
    """(fn(), number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bookkeeping_reads_run_no_job(spark, tombstoned_ix):
    from pysearch.compact import check_consistent
    from pysearch.query import Searcher

    lay = IndexLayout(tombstoned_ix)
    reads = {
        "done": lambda: lay.done_partitions("postings"),
        "covered": lambda: (lay.covered_batches("docs"),
                            lay.covered_batches("postings")),
        "gc": lay.gc_orphan_commits,
        "consistent": lambda: check_consistent(lay),
        "tombstones": lay.pending_deletes,
    }
    got = {name: _jobs(spark, fn, f"readers-{name}")
           for name, fn in reads.items()}
    assert {name: n for name, (_out, n) in got.items()} == dict.fromkeys(
        reads, 0)
    assert got["done"][0] == {f"6|{i}" for i in range(4)}
    assert got["covered"][0] == ({0}, {0})
    assert got["gc"][0] == []
    n, by_case = got["tombstones"][0]
    assert n == 2 and list(by_case) == ["6"] and len(by_case["6"]) == 2
    # a load defines three typed table reads and runs no Spark job: the
    # session lists the 64 term_bucket dirs of postings and term_stats on
    # the driver, and the corpus stats come from the manifest
    s, n_load = _jobs(spark, lambda: Searcher(spark, tombstoned_ix),
                      "readers-load")
    assert n_load == 0
    assert list(s._corpus) == ["6"] and s._corpus["6"][0] == 100
    # the first query's metadata caches (the case's vocabulary and
    # catalog) are read on the driver from the load's commits: no job
    vocab, n_vocab = _jobs(spark, lambda: s._local_vocab("6"),
                           "readers-vocab")
    cat, n_cat = _jobs(spark, lambda: s._catalog("6"), "readers-catalog")
    assert (n_vocab, n_cat) == (0, 0)
    assert vocab == {r["term"]: r["df"] for r in s._term_stats.groupBy(
        "term").sum("df").withColumnRenamed("sum(df)", "df").collect()}
    assert sorted(zip(cat["doc_id"].tolist(), cat["url"],
                      cat["content_hash"])) == sorted(
        tuple(r) for r in s.docs.select("doc_id", "url",
                                        "content_hash").collect())
    assert dict(s.postings.dtypes)["term_bucket"] == "int"
    assert dict(s.docs.dtypes)["case_id"] == "string"
    assert "tok_starts_bin" not in s.docs.columns  # built without positions


def test_spark_written_lineage_commit_reads_alike(spark, tombstoned_ix,
                                                  tmp_path):
    """Rewrite the first lineage commit the way Spark wrote parquet before
    the one lineage writer (INT96 timestamps, required columns): coverage
    and done partitions are unchanged, and the mixed table round-trips
    through the lineage writer as compaction consolidates it."""
    import pandas as pd
    import pyarrow.parquet as pq

    from pysearch.schema import LINEAGE

    ix = str(tmp_path / "mixed")
    shutil.copytree(tombstoned_ix, ix)
    lay = IndexLayout(ix)
    want = (lay.covered_batches("docs"), lay.covered_batches("postings"),
            lay.done_partitions("postings"), lay.done_partitions("docs"))
    before = lay.read_lineage()
    first = lay.list_commits(lay.lineage)[0]
    pyarrow_written = str(tmp_path / "pyarrow_written")
    shutil.move(first, pyarrow_written)
    spark.read.schema(LINEAGE).parquet(pyarrow_written).coalesce(
        1).write.parquet(first)
    assert (lay.covered_batches("docs"), lay.covered_batches("postings"),
            lay.done_partitions("postings"),
            lay.done_partitions("docs")) == want
    assert pq.read_schema(
        [os.path.join(first, f) for f in os.listdir(first)
         if f.endswith(".parquet")][0]).field("ts").type == "timestamp[ns]"
    mixed = lay.read_lineage()
    pd.testing.assert_frame_equal(mixed, before)
    out = str(tmp_path / "consolidated" / "lineage")
    lay.write_lineage(mixed, os.path.join(out, "commit-00000"))
    pd.testing.assert_frame_equal(lay.read_local(out, LINEAGE.names), before)


def test_index_tables_are_read_only_through_the_layout():
    """Outside lineage.py, ``.read.parquet(`` appears in the package only
    where it reads source inputs: ``ops._t`` and the CLI."""
    found = set()
    for name in sorted(os.listdir(PKG)):
        if not name.endswith(".py") or name == "lineage.py":
            continue
        with open(os.path.join(PKG, name)) as f:
            tree = ast.parse(f.read())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if (isinstance(node, ast.Attribute) and node.attr == "parquet"
                        and isinstance(node.value, ast.Attribute)
                        and node.value.attr == "read"):
                    found.add((name, fn.name))
    assert {n for n, _fn in found} == {"ops.py", "cli.py"}, found
    assert {fn for n, fn in found if n == "ops.py"} == {"_t"}, found
