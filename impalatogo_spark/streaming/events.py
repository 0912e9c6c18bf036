"""Structured Streaming operators over the events table.

The reference is a pure batch engine (SURVEY.md §1.1 — no streaming exists to
reproduce); this module extends the engine with the streaming capabilities a
training-data pipeline needs: windowed aggregation with watermarks for late
data, and a custom stateful operator via applyInPandasWithState.

Tests (tests/test_streaming.py) run each stream with availableNow over the
parquet events table and assert the result equals the batch twin
(events_tumbling_window) — the exactly-once replay property.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (schema pinned from the cached
    batch schema, session.read_parquet — streaming sources require
    explicit schemas)."""
    from impalatogo_spark.session import ensure_session_confs, read_parquet

    ensure_session_confs(spark)
    raw_schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    # the streaming file source requires a directory: stream the sf_dir with a
    # glob pinned to the events file
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # same ts normalization as the batch path (session.table): nanos-long
    # files -> ns->us truncation; micros files -> plain TimestampType cast
    if isinstance(raw_schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_window_counts(stream: DataFrame) -> DataFrame:
    """1-hour tumbling window counts with a 2-hour watermark: late events
    beyond the watermark are dropped, windows finalize incrementally —
    bounded state at any throughput."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def run_available_now(spark: SparkSession, streaming_df: DataFrame,
                      output_mode: str = "append") -> DataFrame:
    """Execute a streaming query over all currently-available data
    (Trigger.AvailableNow) into an in-memory sink; return the result table.
    This is the batch-replay harness for correctness checks."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def stateful_session_counts(stream: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running event counts with timeout-based session flush. Demonstrates the
    arbitrary-state API the reference has no analog for."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.exists:
            last_ts, n, total = state.get
        else:
            last_ts, n, total = 0, 0, 0.0
        for pdf in pdfs:
            ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
            for t, v in zip(ts_us, pdf["value"].tolist()):
                if last_ts and t - last_ts > gap_us:
                    n, total = 0, 0.0  # session rolled over
                n += 1
                total += float(v)
                last_ts = max(last_ts, t)
        state.update((last_ts, n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(stream: DataFrame, key_cols: list[str],
                    watermark: str = "2 hours") -> DataFrame:
    """Streaming exact deduplication: dropDuplicates over the key columns
    with a watermark bounding the dedup state (keys older than the watermark
    are evicted — the standard incremental-ingest dedup for a training-data
    pipeline; unbounded state otherwise)."""
    return stream.withWatermark("ts", watermark).dropDuplicates(key_cols)


def stream_stream_attribution(purchases: DataFrame, clicks: DataFrame,
                              window_minutes: int = 30,
                              watermark: str = "2 hours") -> DataFrame:
    """Watermarked stream-stream inner join: every (purchase, click) pair of
    the same user where the click happened within the trailing
    `window_minutes` before the purchase — the STREAMING twin of
    operators/temporal.py::range_join_buckets (the batch range join).

    Both sides carry watermarks and the join condition time-bounds click vs
    purchase, so Spark can size the join state buffers and evict rows older
    than watermark + window — bounded state at any throughput, the
    stream-stream join contract Structured Streaming requires for append
    output. Under Trigger.AvailableNow over static files the result equals
    the batch inequality join exactly (oracle-checked by
    streaming_stream_join)."""
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES"))
    )
    return p.join(c, cond, "inner").select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "click_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )


def stream_stream_attribution_outer(purchases: DataFrame, clicks: DataFrame,
                                    window_minutes: int = 30,
                                    watermark: str = "2 hours") -> DataFrame:
    """LEFT OUTER watermarked stream-stream join: like
    stream_stream_attribution, but purchases with NO qualifying click are
    emitted NULL-extended once the watermark passes their join window —
    the state-EVICTION half of the stream-stream join contract the inner
    form never exercises. Spark holds an unmatched purchase in the state
    store exactly until watermark > p_ts + window, then emits it with NULL
    click columns; state stays bounded at any throughput."""
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES"))
    )
    return p.join(c, cond, "leftOuter").select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "click_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )


def sliding_window_counts(stream: DataFrame) -> DataFrame:
    """2-hour windows sliding every hour (each event lands in 2 windows)
    with a 2-hour watermark — the trending-aggregation input. State is
    bounded by the watermark horizon; the slide factor multiplies rows
    entering the agg, not state retained."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "event_type",
            "n",
        )
    )
