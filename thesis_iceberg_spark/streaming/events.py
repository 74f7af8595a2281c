"""Structured Streaming over the `events` table.

The reference has no streaming surface (SURVEY.md §2A explicit absences);
this is the mandated extension: readStream -> event-time watermark ->
tumbling-window aggregation -> sink, exercised with the availableNow
trigger so batch parquet doubles as a bounded stream (the pattern used to
backfill a streaming pipeline from historical data).

Scale notes: windowed aggregation state is partitioned by (window, key) and
bounded by the watermark; availableNow processes the backlog in
rate-limited micro-batches instead of one giant batch. The same code runs
unchanged against a Kafka source on a cluster.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thesis_iceberg_spark.sources.registry import load_table, source_schema

DEC = "decimal(18,4)"


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet (schema recorded by the
    source loader; nanosecond-long ts normalized to TIMESTAMP_NTZ exactly
    like the batch loader)."""
    schema = source_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = schema["ts"].dataType.simpleString() if "ts" in schema.names else None
    if ts_type == "bigint":
        # watermarks require TIMESTAMP (ltz), not NTZ; session tz is UTC so
        # wall-clock values match the batch loader's NTZ exactly
        stream = stream.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / F.lit(1000)).cast("long"))
        )
    elif ts_type == "timestamp_ntz":
        # TIMESTAMP(MICROS)-encoded data arrives as NTZ; same LTZ requirement,
        # same UTC-session equivalence.  Cast to TimestampType() EXPLICITLY:
        # the string form "timestamp" resolves through spark.sql.timestampType,
        # so under a TIMESTAMP_NTZ-configured session it would be a no-op and
        # withWatermark would reject the column (this module must work under
        # ANY session, driver's included).
        from pyspark.sql.types import TimestampType

        stream = stream.withColumn("ts", F.col("ts").cast(TimestampType()))
    return stream


def _replay_to_memory(spark: SparkSession, agg: DataFrame, prefix: str) -> DataFrame:
    """Run a streaming aggregation to completion (availableNow) into a
    uniquely-named memory sink and return the materialized table — the
    ONE replay convention every registered streaming aggregate shares
    (review r13: this existed as two verbatim copies)."""
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def windowed_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows with a 1-day watermark: count and
    exact (decimal) value sum per (day, event_type).

    Runs the stream to completion with trigger(availableNow) into a memory
    sink and returns the materialized result — so the streaming operator
    can sit in the same correctness harness as the batch ones.
    """
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("string").cast("double").alias("total_value"),
        )
    )
    return _replay_to_memory(spark, agg, "events_windowed").select(
        F.date_format("win.start", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "total_value",
    )


def stream_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-check: the streaming windowed aggregation must equal the same
    aggregation computed in batch. Returns rows only when they DISAGREE
    (empty result == pass)."""
    streamed = windowed_event_stats(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("string").cast("double").alias("total_value"),
        )
    )
    return streamed.exceptAll(batch).unionAll(batch.exceptAll(streamed))


def hopping_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING (overlapping) event-time windows on the stream: 30-minute
    windows sliding every 15, with a watermark — the streaming twin of
    queries/timeseries_q.time_hopping_window_rollup_df (r13; the batch
    side carries the DuckDB hop-enumeration oracle, this side proves the
    SAME window spec runs under watermarked streaming semantics, which
    is the point of building on F.window: one window definition serves
    both engines' modes).  Replayed to completion with availableNow into
    a memory sink; epoch-seconds output keys like the batch twin."""
    from thesis_iceberg_spark.queries.timeseries_q import (
        HOP_SLIDE_SEC,
        HOP_WIDTH_SEC,
    )

    stream = events_stream(spark, sf_dir)
    agg = (
        stream.filter(F.col("ts").isNotNull())
        .withWatermark("ts", "1 day")
        .groupBy(
            F.window(
                "ts", f"{HOP_WIDTH_SEC} seconds", f"{HOP_SLIDE_SEC} seconds"
            ).alias("win"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC))
            .cast("string")
            .cast("double")
            .alias("total_value"),
        )
    )
    return _replay_to_memory(spark, agg, "events_hopping").select(
        F.unix_timestamp(F.col("win.start")).alias("window_start_epoch"),
        "event_type",
        "n",
        "total_value",
    )


def session_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION (dynamic-gap) event-time windows on the stream: per-user
    sessions closing after 30 minutes of inactivity, with a watermark —
    the streaming twin of queries/timeseries_q.session_window_stats_df
    (r14; the batch side carries the gaps-and-islands DuckDB oracle,
    this side proves the SAME F.session_window spec runs under
    watermarked streaming semantics, where the state store holds one
    open session per active user and the watermark closes it — the one
    windowed shape the family lacked after tumbling and hopping:
    windows whose extent is DATA-dependent, so the engine must MERGE
    state rather than assign from a grid).  Replayed to completion with
    availableNow into a memory sink; same formatted-string output as
    the batch twin."""
    from thesis_iceberg_spark.queries.timeseries_q import SESSION_GAP_SEC

    stream = events_stream(spark, sf_dir)
    agg = (
        stream.filter(F.col("ts").isNotNull())
        .withWatermark("ts", "1 day")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_SEC} seconds").alias("win"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC))
            .cast("string")
            .cast("double")
            .alias("total_value"),
        )
    )
    return _replay_to_memory(spark, agg, "events_session").select(
        "user_id",
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start_s"
        ),
        F.date_format("win.end", "yyyy-MM-dd HH:mm:ss").alias("session_end_s"),
        "n_events",
        "total_value",
    )
