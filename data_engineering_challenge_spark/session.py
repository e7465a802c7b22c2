"""SparkSession factory.

Tuned for the local[N] test harness but carrying the configuration
posture we would ship to a 1000-executor cluster: AQE on (runtime
coalescing + skew-join splitting), broadcast threshold sized so dim
tables hash-join without a shuffle, Arrow enabled for the pandas-UDF
slow path, and UTC session time zone so results are reproducible and
oracle-comparable (DuckDB timestamps are naive).

Replaces the reference's engine bootstrap (SQLAlchemy engine at
``src/db/pipeline.py:35-41``) — here the "engine" is Spark itself.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

from .runlog import get_logger

# Configs that are safe (and desirable) to apply to a session we did
# not create — all runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # dims (product-style tables) up to ~128 MiB broadcast instead of
    # shuffling the 100-TB fact side.
    "spark.sql.autoBroadcastJoinThreshold": str(128 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet footer-level pruning of row groups.
    "spark.sql.parquet.filterPushdown": "true",
    # runtime bloom filters: a selective dim-side predicate becomes a
    # bloom filter pushed into the fact scan, pruning row groups the
    # join would discard anyway — at 100 TB this is the difference
    # between scanning the year and scanning the month. No effect at
    # test SFs (creation-side thresholds keep it off for tiny inputs);
    # the conf ships the cluster posture.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # events.parquet stores ts as TIMESTAMP(NANOS) which vanilla Spark
    # rejects; read the raw int64 and convert exactly (catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-created session.

    The driver passes us its own SparkSession; everything the engine
    relies on for correctness (UTC timestamps) or performance (AQE,
    broadcast threshold) that can be set post-hoc is set here.
    """
    confs = dict(RUNTIME_CONFS)
    # size shuffles to the machine instead of the 200-partition default
    # (AQE coalesces down, but the initial task count still costs) —
    # only when the session is running on the generic default.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        confs["spark.sql.shuffle.partitions"] = str(default_parallelism())
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            # not settable at runtime on this build — keep going
            get_logger(__name__).debug("apply_runtime_confs: %s not set", k, exc_info=True)
    return spark


def get_session(
    app_name: str = "data_engineering_challenge_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``shuffle_partitions`` defaults to the core count — correct for
    local mode; on a real cluster this would be ~2-3x total executor
    cores, or left to AQE's coalescing with a high initial value.
    """
    n = cpus or default_parallelism()
    sp = shuffle_partitions or n
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Only the local correctness harness collects full results; the
        # default 1g ceiling aborts big-SF sweeps of pair-producing
        # operators (a cluster deployment would write to a sink instead).
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "1g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
