"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os


def _ensure_pythonpath() -> None:
    """Make the pysearch package importable in executor python workers.

    Local-mode workers are forked with the driver's environment; on a real
    cluster the same is achieved with ``spark-submit --py-files pysearch.zip``
    (see cli.py). Setting PYTHONPATH before the JVM starts covers both the
    driver-embedded and forked-worker paths in this sandbox.
    """
    import sys

    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if pkg_parent not in sys.path:
        sys.path.insert(0, pkg_parent)
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )


# applications this process already shipped the package to.  Rebuilding the
# zip and re-issuing addPyFile on EVERY engine-backed op invocation was pure
# fixed overhead (~0.1s of zip + py4j RPC per query at bench time); within
# one process + one Spark application the package cannot change underneath
# us, and a NEW application (new app id) still gets a fresh zip.
_SHIPPED_APPS: set = set()


def ship_package(spark) -> None:
    """Make pysearch importable in an already-running session's python
    workers via addPyFile (what spark-submit --py-files does).  Needed when
    the SparkSession was created by someone else before PYTHONPATH was set;
    also sets PYTHONPATH (``_ensure_pythonpath``) for workers forked later.
    Idempotent per (process, Spark application): repeat calls are free."""
    import tempfile

    from pysearch.cli import make_pyfiles_zip

    _ensure_pythonpath()
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APPS:
        return
    zip_path = os.path.join(
        tempfile.gettempdir(), f"pysearch_pyfiles_{os.getpid()}.zip"
    )
    make_pyfiles_zip(zip_path)  # rebuild once per app: package may have changed
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception as e:  # re-adding the same path is the only benign case
        if "already" not in str(e).lower() and "exists" not in str(e).lower():
            raise
    _SHIPPED_APPS.add(app_id)


def build_spark(master: str | None = None, app_name: str = "pysearch",
                shuffle_partitions: int | None = None, extra: dict | None = None):
    from pyspark.sql import SparkSession

    _ensure_pythonpath()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "false")
        .config("spark.driver.memory", os.environ.get("PYSEARCH_DRIVER_MEM", "8g"))
        # PYSEARCH_JAVA_OPTS: extra driver-JVM flags (local mode: the one
        # JVM).  The scaling harness pins -XX:ActiveProcessorCount across
        # its two legs so GC/JIT thread pools are sized identically and
        # only executor-task parallelism differs between configurations.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("PYSEARCH_JAVA_OPTS", ""))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # partition dirs like case_id=6 must read back as strings, not ints
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
