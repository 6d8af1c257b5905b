"""SparkSession factory.

The reference pins everything to wall-clock UTC semantics (Postgres
``timestamptz``, reference DDL at ``include/sql/rpt.sql:25-29``); Spark's
equivalent is a UTC session time zone so parquet/DuckDB/Postgres all see
identical instants.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing) and a shuffle-partition count sized to the local core count —
on a real cluster this is overridden by the deploy config, but AQE
coalescing makes the initial number mostly a ceiling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "cs_tutorial_reporting_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local-mode defaults; on a cluster, pass ``master=None`` with
    ``spark-submit`` supplying the master and resource config — every
    setting here is a per-SQL-session semantic or an adaptive knob, not a
    hardware assumption.
    """
    if master is None:
        master = f"local[{DEFAULT_SHUFFLE_PARTITIONS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local[N] is ONE JVM hosting all N executor threads — Spark's 1g
        # default heap OOMs at sf0.1 with 32 concurrent tasks. 8g clears
        # that; measured NOT larger: a 32g heap slows the allocation-
        # heavy higher-order-function queries ~2x (GC geometry), e.g.
        # warm minhash 1.4s@8g vs 3.0s@32g. A real cluster sets executor
        # memory in the deploy config instead. Only effective before JVM
        # launch (getOrCreate on an existing session keeps its heap).
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        # Deterministic instant semantics for oracle parity (SURVEY §7.4).
        .config("spark.sql.session.timeZone", "UTC")
        # Timestamps are written as INT64 µs, which carry row-group min/max
        # statistics (legacy INT96 carries none), so the incremental
        # watermark is answered from footers. Lossless at Spark's µs; set
        # once here, never flipped mid-session.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Adaptive execution: runtime shuffle-partition coalescing, skew
        # join splitting, broadcast-join demotion/promotion.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow for every pandas_udf / applyInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
