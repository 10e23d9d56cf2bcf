"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a multi-executor deployment would set via
spark-submit: Arrow enabled for every pandas-UDF boundary, shuffle
partitions sized to the parallelism rather than the 200 default, and a
bounded Arrow batch size so that large ``bytes`` (image payload) columns
cannot blow up a single Arrow batch (SURVEY.md §7.3 item 4). AQE (runtime
skew-join and partition-coalesce re-planning) is on through Spark's own
defaults; no conf here restates a default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "newsraag_crawler_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: parallelism for local mode; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to max(2*cpus, 32) — at cluster scale this
        is instead sized so each shuffle partition stays well under executor
        memory (AQE coalesces small ones back down).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        n = cpus
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n, 32)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # image `bytes` columns: cap rows per Arrow batch so a batch of
        # payloads stays ~tens of MB, not GBs (SURVEY.md §7.3.4)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        # NOTE on fresh per-task workers (reuse=false in bench stages): a
        # custom preloading daemon module was measured and REJECTED — forked
        # workers inherit the daemon's page-cache/pyc state, so the
        # pandas+pyarrow import costs ~50 ms/task, and the bigger preloaded
        # parent image made 64-task spawn slightly SLOWER (2.8 s vs 1.5 s).
        # Deliberately MODEST heap: on this virtualized host, large heaps
        # (32g+) collapse 32-thread JVM throughput 4-8x — G1 touching tens
        # of GB of fresh pages causes a page-fault storm (measured:
        # identical 2M-row canonicalize 2.6s @8g vs 21.7s @64g). The wave's
        # JVM working set is small; big payloads stream through Arrow.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the local-mode equivalent of
    ``spark-submit --py-files pkg.zip``) so pandas-UDF closures that
    reference package modules resolve on Python workers regardless of the
    driver's cwd. Idempotent per SparkContext — safe to call from every
    entry point (the external driver constructs its own session)."""
    import shutil
    import tempfile

    import newsraag_crawler_spark

    sc = spark.sparkContext
    if getattr(sc, "_newsraag_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(newsraag_crawler_spark.__file__)
    zip_base = os.path.join(
        tempfile.gettempdir(), f"newsraag_crawler_spark_pkg_{os.getpid()}"
    )
    zip_path = shutil.make_archive(
        zip_base, "zip", root_dir=os.path.dirname(pkg_dir),
        base_dir="newsraag_crawler_spark",
    )
    sc.addPyFile(zip_path)
    sc._newsraag_pkg_shipped = True


def ensure_shipped(spark: SparkSession) -> None:
    """Public alias used by driver-facing entry points."""
    # timestamp determinism: epoch/struct date paths render through the
    # session time zone; pin UTC even when the caller built its own session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ship_package(spark)
