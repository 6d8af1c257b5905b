"""[EXT] Structured Streaming variants of the time-based operators.

The reference is batch-only (SURVEY §2.7) — its "incrementality" is the
watermark-filtered re-extract. These are the continuous twins:

- windowed rollup: readStream → withWatermark → window().agg — the
  streaming form of ``events_hourly_rollup``.
- session windows: ``session_window(ts, gap)`` — the streaming form of
  ``operators.sessionize`` (same gap semantics, engine-managed state).

Tested via parquet readStream + memory sink + processAllAvailable()
(synchronous drain), which exercises real state-store code paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import EVENTS


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events layout, declared as ``EVENTS``.

    Timestamp-unit-aware through the batch reader's footer cache
    (``sources/readers.py``): when ``ts`` is physically
    TIMESTAMP(NANOS) it is declared bigint and floored to µs by the same
    helper; µs/ms-unit files stream straight through as ``TimestampType``.
    No session conf changes.
    """
    import os

    from ..sources.readers import _declared, _floor_ns

    ft = _declared(path)
    ns_cols = ("ts",) if ft is not None and "ts" in ft.ns_cols else ()
    raw_schema = (
        f"event_id bigint, ts {'bigint' if ns_cols else 'timestamp'}, user_id bigint, "
        "event_type string, value double, props string"
    )
    reader = spark.readStream.schema(raw_schema)
    if os.path.isfile(path):
        # file-source streams need a directory; narrow with a glob filter
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    raw = _floor_ns(reader.parquet(path), ns_cols)
    return raw.select(*[f.name for f in EVENTS.fields])


def windowed_rollup(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time tumbling-window aggregate with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_rollup(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows (stateful) — one row per closed session."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = 8,
) -> None:
    """Drain a bounded file-source stream synchronously into a memory
    table (test/driver harness helper). ``complete`` mode re-emits every
    group at the final trigger — i.e. the table then equals the batch
    answer exactly.

    ``shuffle_partitions`` scopes the stateful shuffle width to THIS
    query (restored after): every stateful operator carries a state
    store per partition, so the right width tracks state volume, not
    core count — 32 partitions cost ~1.5× to 2.5× the wall of 8 on the
    harness data with identical answers. At 100 TB the same knob sizes
    UP with keys held. ``None`` keeps the session setting.

    Concurrency contract: the override mutates the SESSION conf and
    restores it in ``finally`` — sound only for one drain at a time per
    session (the harness is single-threaded). Two overlapping drains, or
    a concurrent batch query being planned mid-drain, would race on the
    conf and one restore could clobber the other's setting. A concurrent
    caller must either pass ``shuffle_partitions=None`` (no mutation —
    skipped automatically when the session value already matches) or
    drain through separate sessions (``spark.newSession()`` isolates the
    conf)."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None and prev == str(shuffle_partitions):
        shuffle_partitions = None  # already right — skip the mutation
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
