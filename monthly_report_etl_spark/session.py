"""SparkSession factory with engine-wide defaults.

The reference delegates all execution to DuckDB + pandas inside one process
(/root/reference/scripts/run_exports_query.py:199,222). Here the equivalent
"engine bring-up" is a SparkSession tuned for correctness-critical session
options (UTC timestamps, non-ANSI casts so ``cast('double')`` null-fills like
``pd.to_numeric(errors='coerce')``) and scale-critical ones (AQE, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "monthly_report_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Session-level semantics this engine relies on everywhere:

    * ``spark.sql.session.timeZone=UTC`` — the reference's timestamps are
      TIMESTAMPTZ normalized to UTC (run_exports_query.py:109-110); pinning
      UTC makes Spark's internal micros match the DuckDB oracle.
    * ``spark.sql.ansi.enabled=false`` — the reference coerces with
      ``pd.to_numeric(errors='coerce')`` (run_exports_query.py:69-71);
      non-ANSI ``cast`` nulls on failure instead of raising.
    * AQE on — runtime coalescing of the local shuffles and skew-join
      splitting at cluster scale.
    * File listing on the driver for up to 1024 directories per level —
      the export's 48 ``associated_lender=`` directories exceed Spark's
      default of 32, which made every read of them a 48-task listing job.

    Without an explicit ``master`` the session runs ``local[n]`` with one
    task slot per host core (``os.cpu_count()``); ``SPARK_GRAFT_CPUS``
    overrides n. The shuffle partition count defaults to the same n.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # A listing job runs on this same local[n] host and reaches storage
        # no faster than the driver does. On the export directory (local[4],
        # 4-core host, median of 7) a header pass cost 1.52 s CPU with the
        # default threshold of 32 and 0.22 s listed on the driver; an
        # explicit-schema read 0.69 s and 0.02 s.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
