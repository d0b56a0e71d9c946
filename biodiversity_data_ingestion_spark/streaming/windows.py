"""Built-in windowed streaming aggregations (engine extension beyond
reference).

The reference is purely bounded batch (SURVEY.md §2.9: no watermarks,
no event-time windows anywhere); its "incremental" story is daily
re-builds plus the gate anti-join. This module adds the Structured
Streaming surface a modern large-scale pipeline needs, expressed so the
STREAMING result is bit-identical to the batch aggregation over the
same data — which is how it is oracle-checked.

It owns the window builders (tumbling, sliding, session) and their
runners: the five memory-sink replays (tumbling counts, sessions,
sliding windows, windowed top-k, stream-static enrichment), each
drained in complete mode at a partition count scaled from
``events.parquet``, and the append-mode parquet-sink runner. The
events source, the drain and the await live in ``replay.py``.

Scale notes: the windowed aggregation is stateful — state is keyed by
(window, event_type), so state size is bounded by windows x types, not
input rows. The watermark bounds how long state is retained; with a
real unbounded source late rows beyond the watermark are dropped. No
distinct aggregates in the stream (unsupported in streaming mode) —
distinct users come from size(collect_set(...)), whose state is the
per-key distinct set (bounded by the user cardinality per window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.decimals import dec_sum
from .replay import await_drained, drain, events_stream


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window aggregation (works on batch AND
    streaming DataFrames — same logical plan, Catalyst picks the
    stateful physical operator under readStream)."""
    # Untimed events cannot be windowed: a NULL event time would be
    # silently DROPPED by the streaming watermark operator but kept (as
    # a NULL window group) by the same plan run in batch — the one
    # place batch and stream results could diverge. Quarantine up front
    # so the builder means the same thing under both execution modes.
    src = events.where(F.col("ts").isNotNull())
    if events.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.size(F.collect_set("user_id")).cast("long").alias("n_users"),
            dec_sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
            "sum_value",
        )
    )


def sliding_event_counts(events: DataFrame, duration: str = "2 hours",
                         slide: str = "1 hour", watermark: str = "4 hours") -> DataFrame:
    """Sliding event-time windows (each event lands in duration/slide
    windows). State keyed by (window, type) — bounded by time range."""
    src = events.where(F.col("ts").isNotNull())  # see windowed_event_counts
    src = src.withWatermark("ts", watermark) if events.isStreaming else src
    return (
        src.groupBy(F.window("ts", duration, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def session_event_counts(events: DataFrame, gap: str = "10 minutes",
                         watermark: str = "1 hour") -> DataFrame:
    """Per-user session windows: a session extends while consecutive
    events arrive within `gap`; state is one open session per user,
    closed by the watermark in streaming mode."""
    src = events.where(F.col("ts").isNotNull())  # see windowed_event_counts
    src = src.withWatermark("ts", watermark) if events.isStreaming else src
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def run_stream_over_events(
    spark: SparkSession, sf_dir: str, query_name: str = "bdi_stream_events"
) -> DataFrame:
    """Execute the windowed aggregation as a REAL streaming query over
    the events parquet (file-stream source, memory sink, complete mode),
    drain it, and return the final result table.

    HARNESS MODE: complete output + memory sink re-emits full state
    each batch and collects to the driver — correct for bounded-replay
    oracle checks, wrong for production. The at-scale path is
    :func:`run_stream_append_to_files` (append mode, durable sink,
    watermark-finalized windows, bounded state)."""
    drain(windowed_event_counts(events_stream(spark, sf_dir)), query_name,
          "complete", f"{sf_dir}/events.parquet")
    return spark.table(query_name)


def run_stream_append_to_files(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    query_name: str = "bdi_stream_append",
) -> DataFrame:
    """PRODUCTION-mode streaming: the same windowed aggregation in
    APPEND output mode with a durable parquet sink and a checkpointed
    state store.

    This is the shape that runs unbounded at scale, unlike the
    complete/memory harness: each window row is emitted exactly once —
    when the watermark passes the window end (watermark-driven
    finalization) — after which its state is dropped, so state stays
    bounded by the watermark horizon, the sink is an append-only file
    log a downstream batch reader can consume, and recovery replays
    exactly-once from the checkpoint. On a BOUNDED replay the final
    watermark is max(ts) - delay, so windows still open at end-of-input
    are (correctly) never emitted; the closed prefix must equal the
    batch aggregation over the same rows, which is how it is tested
    (test_append_mode_matches_batch_closed_windows).
    """
    agg = windowed_event_counts(events_stream(spark, sf_dir))
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
    await_drained(q)
    return spark.read.parquet(out_dir)


def run_stream_sessions_over_events(
    spark: SparkSession, sf_dir: str, query_name: str = "bdi_stream_sessions"
) -> DataFrame:
    """Per-user SESSION windows executed as a real streaming query.

    Session windows are the hard stateful case: state is one OPEN
    session per user that must merge when a new event lands within the
    gap — Spark's streaming session_window operator handles the merge;
    the watermark closes sessions whose gap has definitively passed.
    Drained over the bounded replay, the result must equal the batch
    gaps-and-islands aggregation (the user_sessions oracle)."""
    drain(session_event_counts(events_stream(spark, sf_dir)), query_name,
          "complete", f"{sf_dir}/events.parquet")
    return spark.table(query_name)


def run_stream_sliding_over_events(
    spark: SparkSession, sf_dir: str, query_name: str = "bdi_stream_sliding"
) -> DataFrame:
    """Sliding event-time windows executed as a real streaming query
    (duration 2h, slide 1h: every event lands in two windows; state
    keyed by (window, type), bounded by time range x types)."""
    drain(sliding_event_counts(events_stream(spark, sf_dir)), query_name,
          "complete", f"{sf_dir}/events.parquet")
    return spark.table(query_name)


def run_stream_windowed_topk_over_events(
    spark: SparkSession, sf_dir: str, k: int = 2,
    query_name: str = "bdi_stream_topk",
) -> DataFrame:
    """Streaming leaderboard: tumbling-window counts maintained by the
    stream (bounded state: windows x types), then the top-k cut applied
    on the drained result — the standard two-stage shape, since ranking
    across keys inside one streaming trigger isn't incremental. At
    scale the serving cut runs over the (tiny) aggregate table, never
    the event stream."""
    from pyspark.sql import Window as W

    drain(windowed_event_counts(events_stream(spark, sf_dir)), query_name,
          "complete", f"{sf_dir}/events.parquet")
    agg = spark.table(query_name)
    w = W.partitionBy("window_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("window_start", "event_type", "n_events", "rnk")
    )


def run_stream_static_enrichment_over_events(
    spark: SparkSession, sf_dir: str, query_name: str = "bdi_stream_enrich"
) -> DataFrame:
    """Stream-static enrichment: the event stream inner-joins a STATIC
    dimension (per-user tier snapshot) micro-batch by micro-batch — the
    canonical "enrich the stream against a slowly-changing snapshot"
    pattern. The static side is planned once and broadcast into every
    micro-batch; no stream-side state is created by the join itself.
    Aggregated per tier x type so the drained result is oracle-sized."""
    ev = events_stream(spark, sf_dir)
    tiers = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("long"))
    )
    enriched = ev.join(F.broadcast(tiers), "user_id").groupBy(
        "tier", "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        # exact DECIMAL accumulation: micro-batch state merge order is
        # not deterministic for double sums (see plans/_q1)
        dec_sum("value").alias("sum_value"),
    )
    drain(enriched, query_name, "complete", f"{sf_dir}/events.parquet")
    return spark.table(query_name)
