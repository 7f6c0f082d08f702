"""SparkSession builder.

Carries over the reference's stability configuration
(reference spark/stock_analysis.py:10-19: network timeout 800s, heartbeat
120s, memory fraction 0.8, force-delete temp checkpoints) and adds the
scale-oriented defaults the reference lacked: AQE, Arrow, UTC session
timezone (required for DuckDB-oracle comparison), and shuffle partitions
sized to the machine instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Confs that change query RESULTS (not just performance) and are
# runtime-settable.  The driver harness — and any library caller — may hand
# the engine a vanilla ``SparkSession.builder.getOrCreate()`` session that
# never went through :func:`build_session`; every fixture-reading entry
# point calls :func:`ensure_engine_confs` so results don't depend on who
# built the session.
#
# - nanosAsLong: driver fixtures store events.ts as parquet
#   TIMESTAMP(NANOS), which Spark refuses to read natively
#   (PARQUET_TYPE_ILLEGAL); read as int64 nanos, converted in
#   sources.files.load_table.
# - timeZone UTC: date_format/to_timestamp outputs are tz-dependent;
#   the DuckDB oracle runs in UTC (SURVEY §2.8 F3/F4).
# - ansi off: reference ran Spark 3.5 (ANSI off); div-by-zero must yield
#   NULL, not error, to match both the reference and the oracle.
_RESULT_CRITICAL_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
}


def ensure_engine_confs(spark: SparkSession) -> None:
    """Set result-critical runtime confs on an arbitrary session.

    Idempotent and cheap (conf.get is a local call); safe to call per
    query. Only touches confs whose current value differs.
    """
    for key, want in _RESULT_CRITICAL_CONFS.items():
        try:
            current = spark.conf.get(key, None)
        except Exception:
            current = None
        if current != want:
            spark.conf.set(key, want)


def build_session(
    app_name: str = "airflow_kafka_spark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine.

    In local mode the driver is the only JVM, so ``spark.driver.memory``
    is the one memory knob; on a real cluster the same builder works with
    a cluster master URL and executor settings supplied via spark-submit.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs everything in the driver JVM; the 1g default
        # heap OOMs broadcast builds at the 10x scale probes while the
        # box idles. 4g measured best (A/B at sf0.1: 16g ran ~35% slower
        # than 2-4g — oversized heaps hurt locality/GC here). Applied
        # only when this builder creates the JVM — catalog queries never
        # rely on it (they run green on a vanilla 1g session, which is
        # what the driver harness uses).
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # reference stability knobs (spark/stock_analysis.py:13-15,18)
        .config("spark.network.timeout", "800s")
        .config("spark.executor.heartbeatInterval", "120s")
        .config("spark.memory.fraction", "0.8")
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**_RESULT_CRITICAL_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
