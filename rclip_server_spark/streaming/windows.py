"""Event-time windowed aggregations + stateful dedup for the `events` table.

Every transformation here is written against the unbound DataFrame API so the
SAME function runs in batch mode (the oracle) and as a Structured Stream
(readStream → transformation → writeStream): pass a batch DataFrame and you
get the batch answer; pass a streaming one and Spark runs it incrementally
with watermark-bounded state. That one-definition-two-runtimes property IS
the correctness story — no second implementation to drift.

Scale notes: windowed aggs shuffle on (window, keys); watermarks bound state
so a 100 TB/day stream holds only the open windows. Session windows use
Spark's native ``session_window`` (state merges adjacent sessions); the
first-in-bucket dedup holds one row per (window, keys) until the watermark
closes the window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 1):
    """File-source stream over the events parquet (schema must be declared
    for streaming reads). ``path`` must be a DIRECTORY (Spark file-stream
    contract) — stage single-file fixtures into one. The fixture stores
    TIMESTAMP(NANOS); Spark 4.1 reads it as TIMESTAMP_NTZ with the nanos
    truncated to micros, and the session is pinned UTC, so the cast to
    TIMESTAMP is exact — matching sources.catalog.load_table."""
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def with_watermark(df: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Late-data horizon; a no-op semantically in batch mode."""
    return df.withWatermark("ts", delay) if df.isStreaming else df


def tumbling_counts(events: DataFrame, size: str = "1 day",
                    watermark: str = "1 hour") -> DataFrame:
    """Tumbling event-time window per event_type: count + sum(value-cents).

    Cents (exact int) rather than float sum so batch and streaming runs (and
    the DuckDB oracle) agree bit-for-bit regardless of addition order."""
    src = with_watermark(events, watermark)
    return (
        src.groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_cents",
        )
    )


def sliding_counts(events: DataFrame, size: str = "1 day", slide: str = "12 hours",
                   watermark: str = "1 hour") -> DataFrame:
    """Sliding event-time window (each event lands in size/slide windows)."""
    src = with_watermark(events, watermark)
    return (
        src.groupBy(F.window("ts", size, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "1 hour") -> DataFrame:
    """Per-user session windows with an inactivity ``gap``: session start/end
    + event count. Spark merges adjacent session state natively."""
    src = with_watermark(events, watermark)
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event_id"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "first_event_id",
        )
    )


def dedup_first_in_bucket(events: DataFrame, minutes: int = 10,
                          keys: tuple[str, ...] = ("user_id", "event_type"),
                          watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators.events.dedup_within_window (hard-bucket
    first-event-wins): tumbling ``window(ts)`` aggregation keeping
    ``min(struct(ts, event_id))`` per (keys, bucket). ``window()`` aligns
    tumbling buckets to the epoch exactly like the batch form's
    ``unix_micros DIV`` bucketing, and the lexicographic struct-min equals
    its ``ORDER BY ts, event_id`` first row — one definition of "first",
    two runtimes. Streaming: watermark bounds the per-window state and
    finalized windows emit once (append); batch: same plan minus the
    watermark is the oracle. Unlike dropDuplicatesWithinWatermark (arrival-
    order first, sliding horizon), this is deterministic in event time."""
    w = F.window(F.col("ts"), f"{minutes} minutes")
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    out = src.groupBy(w.alias("w"), *[F.col(k) for k in keys]).agg(
        F.min(F.struct(F.col("ts"), F.col("event_id"))).alias("first")
    )
    return out.select(
        F.col("first.event_id").alias("event_id"),
        *keys,
        F.unix_micros("first.ts").alias("ts_us"),
    )


def run_stream_to_memory(stream_df: DataFrame, table_name: str,
                         timeout_sec: int = 120,
                         output_mode: str = "complete") -> None:
    """Drive a streaming query to completion of all available input (for
    tests): memory sink, processAllAvailable, stop. ``output_mode``:
    'complete' for aggregations, 'append' for joins / stateless maps."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def enrich_events(events: DataFrame, dim: DataFrame,
                  on: tuple[str, str] = ("user_id", "c_custkey"),
                  dim_cols: tuple[str, ...] = ("c_nationkey",)) -> DataFrame:
    """Stream-static enrichment: left-join the (unbounded) event stream with
    a bounded dimension table. The static side is broadcast — each
    micro-batch joins map-side with zero stream-side shuffle, and Spark
    re-plans the static side per batch so a refreshed dim table is picked up
    without restarting the stream. Left-outer keeps events whose key has no
    dim row (stream-static left joins are supported with the stream on the
    left). Works identically on a batch DataFrame: same function is its own
    oracle."""
    left, right = on
    d = dim.select(F.col(right).alias(left), *dim_cols)
    return events.join(F.broadcast(d), left, "left")


def enriched_nation_counts(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Per-nation event rollup over the enriched stream: count + exact cents
    sum (the tumbling_counts determinism rule). The canonical streaming
    pipeline shape: enrich (broadcast, map-side) → aggregate (one shuffle on
    the small nation key)."""
    e = enrich_events(events, customer, dim_cols=("c_nationkey",))
    return e.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
    )


def click_view_interval_join(
    clicks: DataFrame, views: DataFrame, max_delay: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each click matches the same user's views
    in the preceding ``max_delay`` window (attribution's core primitive).

    In streaming mode BOTH sides carry watermarks and the time-bound join
    condition — that pair is what lets Spark expire join state (without the
    interval bound, stream-stream state grows forever). In batch mode the
    same function is the oracle. Output timestamps surface as unix micros
    (engine-portable comparison rule)."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
        v = v.withWatermark("view_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {max_delay}"))
    )
    return (
        c.join(v, cond, "inner")
        .select(
            "click_id",
            "user_id",
            "view_id",
            F.unix_micros("click_ts").alias("click_us"),
            F.unix_micros("view_ts").alias("view_us"),
        )
    )


def windowed_value_histogram(events: DataFrame, value_col: str = "value",
                             size: str = "1 day", lo: float = 0.0,
                             hi: float = 100.0, n_bins: int = 16,
                             watermark: str = "1 hour") -> DataFrame:
    """Per-window value-distribution monitor: the mergeable equi-width
    histogram (operators/sketches._hist_bin — same clamp/floor rule, so
    the batch form is oracle-checkable) aggregated per tumbling event-time
    window. ONE definition runs as the batch oracle and as a Structured
    Stream: streaming state is (windows-in-flight x n_bins) cells —
    watermark-bounded and sketch-sized, never value-domain-sized — and a
    finalized window emits its complete histogram once (append mode).
    This is the ingest-time producer for sketches.histogram_drift: persist
    each day's bins, and distribution drift between any two days costs two
    KB-sized sketch reads."""
    from ..operators.sketches import _hist_bin

    w = F.window(F.col("ts"), size)
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    out = (
        src.where(F.col(value_col).isNotNull())
        .withColumn("bin", _hist_bin(F.col(value_col), lo, hi, n_bins))
        .groupBy(w.alias("w"), F.col("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return out.select(
        F.unix_micros("w.start").alias("window_start_us"), "bin", "cnt"
    )
