"""SparkSession factory with the engine's canonical configuration.

Local testing runs on ``local[N]`` (one JVM); the configuration is
nevertheless chosen so the same code is correct on a multi-executor
cluster: AQE on (runtime coalescing + skew-join handling), shuffle
partitions sized explicitly, UTC session timezone (oracle comparisons
against DuckDB are timezone-naive), Arrow enabled for the Pandas-UDF
paths.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# Runtime SQL confs the engine depends on. Applied both at build time and
# defensively at run time (``configure``) because the driver's verify
# harness owns its own SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores timestamp[ns]; Spark 4 refuses INT64
    # TIMESTAMP(NANOS) unless this legacy conf is set, after which the
    # column arrives as BIGINT nanos (converted in sources/loader.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle (DuckDB) timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: coalesce post-shuffle partitions, split skewed
    # join partitions. Essential at 100 TB; harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas_udf / applyInPandas / mapInPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # toPandas builds the pandas frame column-by-column while FREEING
    # each consumed Arrow batch instead of holding both copies alive;
    # measured 2x on wide result fetches (q12's 60M-row FULL OUTER at
    # sf1.0: 51 s -> 26 s, vs 9.6 s pure compute) — the fetch path,
    # not the plan, was that query's wall.
    "spark.sql.execution.arrow.pyspark.selfDestruct.enabled": "true",
}


def get_spark(app_name: str = "hive_parse_lineage_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the canonical SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to the core count — right-sized for local mode;
    on a real cluster AQE coalescing makes the initial number mostly a
    ceiling, and 100 TB jobs would raise it (rule of thumb: total
    shuffle bytes / 128 MB).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**RUNTIME_CONFS, **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-created session.

    All confs in RUNTIME_CONFS are runtime-settable (verified on
    PySpark 4.1.2); this makes the engine robust when embedded in a
    host application that owns the session.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # a conf this build will not set at run time
            _log.warning("configure: could not set %s=%s", k, v,
                         exc_info=True)
    return spark
