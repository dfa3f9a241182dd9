"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship path: a real pysearch index build + BM25 search
over the sf0.001 documents table.  ``queries``/``oracle_sql`` expose the
operator registry in ``pysearch.ops`` (fulltext, dedup, ANN, text-analysis,
relational families) for the driver's DuckDB cross-check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Make pysearch importable in THIS session's python workers (the
    driver owns the SparkSession; PYTHONPATH was fixed too late for its
    workers)."""
    from pysearch.session import ship_package

    ship_package(spark)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the inverted index over sf0.001 documents with the
    real engine, then run a BM25 top-10 search with phrase spans."""
    import shutil

    from pyspark.sql import functions as F

    from pysearch.build import build_index
    from pysearch.query import Searcher

    _ship_package(spark)
    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    webtext = docs.select(
        F.format_string("doc://docs/%06d", F.col("doc_id")).alias("url"),
        F.col("text"),
        F.col("lang"),
    )
    index_dir = "/tmp/pysearch_flagship_index"
    shutil.rmtree(index_dir, ignore_errors=True)
    build_index(spark, webtext, index_dir, segment_size=128)
    searcher = Searcher(spark, index_dir)
    return searcher.search("spark join fast", k=10, case_id="0", best_filter=False)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator family member (see pysearch.ops)."""
    from pysearch.ops import OPS
    from pysearch.session import _ensure_pythonpath

    _ensure_pythonpath()
    return {name: fn for name, (fn, _sql) in OPS.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents, aligned column names/values."""
    from pysearch.ops import OPS

    return {name: sql for name, (_fn, sql) in OPS.items() if sql is not None}
