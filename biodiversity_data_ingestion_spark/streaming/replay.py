"""The bounded-replay scaffold every streaming runner shares.

The registry's ``stream_*`` queries replay a bounded file stream and
drain it, so their results can be oracle-checked against batch SQL. This
module owns the three pieces of that scaffold: the events file-stream
source (:func:`events_stream`), the memory-sink drain (:func:`drain`)
and the one await every runner ends on (:func:`await_drained`), which
stops the query and raises when it has not terminated, so no runner can
hand back whatever a still-running sink holds. The runners themselves
live in ``windows.py`` (built-in windowed aggregations) and
``stateful.py`` (dedup, joins, grouped-map state and foreachBatch sinks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..functions.partitioning import scaled_shuffle_partitions
from ..sources.tables import normalize_event_ts

# seconds a bounded replay may run before it is stopped as failed
DRAIN_TIMEOUT_S = 300


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-stream source (micro-batch replay).

    On a cluster the same downstream plans run over Kafka/files
    unbounded with watermarks bounding state; here the bounded replay
    lets streaming results be oracle-checked against batch SQL.
    """
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", "1")
        # file-stream sources take a directory; glob down to the events table
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # normalize nanos-long / TIMESTAMP_NTZ / TIMESTAMP exactly like the
    # batch path — withWatermark requires TIMESTAMP, not NTZ
    return normalize_event_ts(stream)


def await_drained(q: StreamingQuery) -> None:
    """Wait for an ``availableNow`` query to finish its bounded replay.

    ``awaitTermination(timeout)`` returns False on timeout instead of
    raising; a caller that went on would read a partial sink while the
    query kept running. Stop the query and raise instead."""
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain within "
            f"{DRAIN_TIMEOUT_S} s; stopped it"
        )


def drain(
    df: DataFrame, query_name: str, mode: str = "append", scale: str | None = None
) -> StreamingQuery:
    """Drain a bounded streaming frame into the memory table
    ``query_name`` in output ``mode`` (append, update or complete) and
    return the terminated query; ``spark.table(query_name)`` holds its
    rows.

    ``scale`` is a file or staging directory: when given, the state and
    shuffle partition count for this query is derived from its on-disk
    size (``functions.partitioning.scaled_shuffle_partitions``); when
    None the query uses the session's ``spark.sql.shuffle.partitions``.
    Results do not depend on the count, only the state-exchange width
    does; a small replay at the session's batch-sized count pays the
    per-partition micro-batch machinery (state-store instances, Python
    state workers) for partitions that hold a few KB each.

    Streaming queries capture ``spark.sql.shuffle.partitions`` at start,
    so the scaled count is set for the start and restored on every exit.
    ``spark.conf`` is session-global, not thread-local: another query
    planned on the same session meanwhile picks up the scaled count. The
    bench and entry drivers run queries serially; concurrent callers
    must serialize around this call or plan on ``spark.newSession()``.
    """
    spark = df.sparkSession
    spark.catalog.dropTempView(query_name)
    key = "spark.sql.shuffle.partitions"
    entry = spark.conf.get(key)
    if scale is not None:
        spark.conf.set(key, str(scaled_shuffle_partitions([scale])))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        await_drained(q)
    finally:
        spark.conf.set(key, entry)
    return q
