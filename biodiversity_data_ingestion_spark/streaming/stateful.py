"""Stateful streaming operators and their bounded-replay runners
(engine extension, SURVEY §2.9).

The reference's incremental story is the batch gate anti-join (J2); its
streaming analogues live here. This module owns the runners for:

- dedup: first-seen-wins via ``applyInPandasWithState``
  (:func:`first_seen_dedup`), ``dropDuplicates`` under a watermark and
  ``dropDuplicatesWithinWatermark``;
- stream-stream joins of purchases to the same user's events in the
  preceding hour (inner, left outer, full outer), sharing one
  watermarked join side and one final-watermark cut;
- custom sessionization (:func:`stateful_sessions`, fixed or per-key
  gap), replayed by :func:`run_staged_sessions` over a sentinel-staged
  copy of the events, and running totals via
  ``transformWithStateInPandas``;
- ``foreachBatch`` sinks: the CDC upsert into a versioned table and
  the quality-gated write.

The events source, the memory-sink drain and the await every runner
ends on live in ``replay.py``.

Scale: grouped-map state is one small record per key, partitioned by
key hash across executors; at 100 TB of events the state size tracks
key cardinality, not input volume. Pair with a state-store TTL
(timeout) when keys are unbounded.
"""

from __future__ import annotations

import os
import shutil
import warnings
from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from ..sources.tables import load_table, normalize_event_ts
from .replay import await_drained, drain, events_stream


def first_seen_dedup(
    keyed: DataFrame,
    key_col: str,
    order_cols: list[str],
    payload_schema: StructType,
) -> DataFrame:
    """Emit the first-ordered row per key ONCE across the whole stream.

    ``keyed`` may be streaming or batch (same code path — batch runs it
    as a single group pass). Rows are ordered inside each micro-batch by
    ``order_cols`` so the winner within a batch is deterministic; once a
    key has emitted, later batches emit nothing for it.
    """

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        batch = batch.sort_values(by=order_cols, kind="mergesort", ignore_index=True)
        state.update((True,))
        yield batch.head(1)

    return keyed.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=payload_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_first_seen_over_events(spark, sf_dir: str, query_name: str = "bdi_first_seen") -> DataFrame:
    """Execute the stateful dedup as a real streaming query over the
    events table (file source, memory sink) and return the drained
    result: the first event per user."""
    keyed = events_stream(spark, sf_dir).select("user_id", "ts", "event_id")
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
        ]
    )
    deduped = first_seen_dedup(keyed, "user_id", ["ts", "event_id"], out_schema)
    drain(deduped, query_name)
    return spark.table(query_name).select(
        "user_id",
        F.col("ts").alias("first_ts"),
        F.col("event_id").alias("first_event_id"),
    )


def run_stream_distinct_over_events(
    spark, sf_dir: str, query_name: str = "bdi_stream_distinct"
) -> DataFrame:
    """Streaming dropDuplicates under a watermark: distinct
    (user_id, event_type) pairs emitted once across micro-batches.

    State is one entry per distinct key, evicted once the watermark
    passes — the standard streaming-dedup building block (the watermark
    bounds state where the J2-style gate would grow forever). Projecting
    ONLY the key columns keeps the result deterministic (which physical
    row wins the dedup is arbitrary; the key set is not)."""
    stream = events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    drain(deduped, query_name)
    return spark.table(query_name)


def _join_side(
    spark, sf_dir: str, side: str, event_type: str | None
) -> DataFrame:
    """One watermarked side of the purchase joins: the events stream,
    filtered to ``event_type`` when given, as ``{side}_event_id``,
    ``{side}_user`` and ``{side}_ts`` with a one-hour watermark."""
    src = events_stream(spark, sf_dir)
    if event_type is not None:
        src = src.where(F.col("event_type") == event_type)
    return src.select(
        F.col("event_id").alias(f"{side}_event_id"),
        F.col("user_id").alias(f"{side}_user"),
        F.col("ts").alias(f"{side}_ts"),
    ).withWatermark(f"{side}_ts", "1 hour")


def _purchase_join(
    spark, sf_dir: str, e_type: str | None, how: str = "inner"
) -> DataFrame:
    """Purchases joined (``how``) to the same user's ``e_type`` events,
    or every event when None, in the preceding hour."""
    return _join_side(spark, sf_dir, "p", "purchase").join(
        _join_side(spark, sf_dir, "e", e_type),
        F.expr("p_user = e_user AND e_ts >= p_ts - INTERVAL 1 HOUR AND e_ts <= p_ts"),
        how,
    )


def _with_cut(spark, sf_dir: str, drained: DataFrame) -> DataFrame:
    """``drained`` with the bounded replay's final global watermark as
    column ``cut``: min(max purchase ts, max click ts) minus the one-hour
    delay, computed from the batch table. The outer-join runners keep
    only the null-padded rows this watermark has decided."""
    ev = load_table(spark, sf_dir, "events")
    cut = (
        ev.where(F.col("event_type") == "purchase")
        .agg(F.max("ts").alias("mp"))
        .crossJoin(
            ev.where(F.col("event_type") == "click").agg(F.max("ts").alias("me"))
        )
        .select(
            (F.least("mp", "me") - F.expr("INTERVAL 1 HOUR")).alias("cut")
        )
    )
    return drained.crossJoin(F.broadcast(cut))


def run_stream_interval_join_over_events(
    spark, sf_dir: str, query_name: str = "bdi_stream_ijoin"
) -> DataFrame:
    """Watermarked stream-stream interval join: each purchase joined to
    the same user's events in the preceding hour — the streaming
    analogue of the batch binned range join (joins.range_join_binned).

    Both sides carry watermarks so the join state is bounded: a buffered
    event can be dropped once the watermark passes ts + 1 hour. Returns
    (p_event_id, e_event_id) match pairs (append mode emits each exactly
    once)."""
    joined = _purchase_join(spark, sf_dir, None).select(
        "p_event_id", "e_event_id"
    )
    drain(joined, query_name)
    return spark.table(query_name)


def run_stream_cdc_upsert_over_events(
    spark, sf_dir: str, state_dir: str | None = None
) -> DataFrame:
    """CDC-style streaming merge via foreachBatch: each micro-batch
    upserts the per-user LATEST event into a versioned parquet state
    table (newer event time wins — the `MERGE ... WHEN MATCHED AND
    s.ts > t.ts` pattern), swapping the _CURRENT pointer per batch.

    This is the production shape for maintaining a serving table from a
    stream without a lakehouse dependency: state lives in plain parquet,
    every batch writes a NEW version directory and atomically flips the
    pointer (sinks.write_versioned — the reference's index/alias swap,
    S11), so readers never see a half-written table and the previous
    version remains for rollback. State size tracks key cardinality;
    the per-batch merge is one union + one top-1-per-key window (A5).

    Returns the final state table (user_id, ts, event_type, value).
    """
    import tempfile

    from ..operators.dedup import keep_min_by
    from ..sources import sinks

    base_dir = state_dir or tempfile.mkdtemp(prefix="bdi_stream_cdc_")
    order = [F.col("ts").desc(), F.col("event_id").desc()]
    cols = ["user_id", "event_id", "ts", "event_type", "value"]

    def apply_batch(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        latest = keep_min_by(batch_df.select(*cols), ["user_id"], order)
        pointer = os.path.join(base_dir, sinks.CURRENT_POINTER)
        if os.path.exists(pointer):
            combined = sinks.read_current(s, base_dir).unionByName(latest)
            latest = keep_min_by(combined, ["user_id"], order)
        sinks.write_versioned(latest, base_dir, "state", version=f"b{batch_id:06d}")

    stream = events_stream(spark, sf_dir).select(*cols)
    await_drained(
        stream.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    return sinks.read_current(spark, base_dir).select(
        "user_id", "ts", "event_type", "value"
    )


def run_stream_left_join_over_events(
    spark, sf_dir: str, query_name: str = "bdi_stream_loj"
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every purchase joined
    to the same user's clicks in the preceding hour, null-padded when no
    click exists — the missing-step funnel shape the inner interval join
    (run_stream_interval_join_over_events) cannot answer.

    Outer semantics under watermarks: a purchase can only be emitted
    null-padded once the GLOBAL watermark (min over both inputs of
    max-event-time − delay) passes its timestamp — before that a
    matching click could still arrive. Purchases inside the final
    delay window therefore never emit on a bounded stream; the runner
    applies that same cutoff explicitly (computed from the batch table,
    deterministically) so the result is exactly the "completed
    purchases" set — emitted-if-and-only-if below the cutoff, identical
    to the batch left join under the same cut. State is bounded: both
    buffers evict as the watermark advances.

    Returns (p_event_id, p_us, e_event_id_s) with the null pad
    stringified ('none') to keep dtypes exact under the strict
    comparator.
    """
    joined = _purchase_join(spark, sf_dir, "click", "left_outer").select(
        "p_event_id", "p_ts", "e_event_id"
    )
    drain(joined, query_name)
    return (
        _with_cut(spark, sf_dir, spark.table(query_name))
        .where(F.col("p_ts") < F.col("cut"))
        .select(
            "p_event_id",
            F.unix_micros("p_ts").alias("p_us"),
            F.coalesce(F.col("e_event_id").cast("string"), F.lit("none")).alias(
                "e_event_id_s"
            ),
        )
    )


def run_stream_full_join_over_events(
    spark, sf_dir: str, query_name: str = "bdi_stream_foj"
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join — completes the
    streaming-join family (inner interval / left outer / full outer):
    purchases matched to same-user clicks in the preceding hour, with
    BOTH sides null-padded once the global watermark proves no match
    can arrive.

    Eviction semantics differ per side because the interval condition
    is asymmetric: a purchase p can only match clicks with
    e_ts <= p_ts, so p emits null-padded once watermark > p_ts; a
    click e can match purchases up to p_ts <= e_ts + 1h, so e emits
    null-padded only once watermark > e_ts + 1h. On the bounded replay
    the runner applies those two cutoffs explicitly (computed from the
    batch table, deterministically), so the result is exactly the
    batch full join restricted to decidable rows — matched pairs
    unconditionally, purchase-only rows below cut, click-only rows
    below cut − 1h. State on an unbounded source is bounded by the
    same thresholds.

    Returns (p_event_id_s, p_us, e_event_id_s, e_us) with null ids
    stringified ('none') for the strict comparator; the nullable epoch
    columns stay BIGINT in both engines.
    """
    joined = _purchase_join(spark, sf_dir, "click", "full_outer").select(
        "p_event_id", "p_ts", "e_event_id", "e_ts"
    )
    drain(joined, query_name)
    matched = F.col("p_event_id").isNotNull() & F.col("e_event_id").isNotNull()
    p_only = F.col("e_event_id").isNull() & (F.col("p_ts") < F.col("cut"))
    e_only = F.col("p_event_id").isNull() & (
        F.col("e_ts") < F.col("cut") - F.expr("INTERVAL 1 HOUR")
    )
    return (
        _with_cut(spark, sf_dir, spark.table(query_name))
        .where(matched | p_only | e_only)
        .select(
            F.coalesce(F.col("p_event_id").cast("string"), F.lit("none")).alias(
                "p_event_id_s"
            ),
            F.unix_micros("p_ts").alias("p_us"),
            F.coalesce(F.col("e_event_id").cast("string"), F.lit("none")).alias(
                "e_event_id_s"
            ),
            F.unix_micros("e_ts").alias("e_us"),
        )
    )


def run_stream_dedup_within_watermark_over_events(
    spark, sf_dir: str, query_name: str = "bdi_stream_wm_dedup"
) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark``: unlike
    plain ``dropDuplicates`` (whose state holds every key forever unless
    the watermark column is part of the key), the WithinWatermark
    variant keeps ONE state entry per key with an event-time TTL — the
    right primitive when duplicates arrive close together (at-least-once
    sources, retried writes) and state must stay bounded by the
    duplicate-arrival window, not by key cardinality history.

    The delay here deliberately exceeds the dataset's full time span so
    no state eviction can fire mid-run: the emitted key set is then
    provably the batch DISTINCT regardless of how the file stream is
    micro-batched (the oracle contract). Production pipelines set the
    delay to the real duplicate window (minutes), which is where the
    state bound pays off.
    """
    stream = events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "3650 days")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    drain(deduped, query_name)
    return spark.table(query_name)


def _merge_sessions_vec(
    starts: "np.ndarray",
    ends: "np.ndarray",
    ns: "np.ndarray",
    cents: "np.ndarray",
    nns: "np.ndarray",
    gap_us: int,
):
    """Vectorized gaps-and-islands merge over interval items sorted by
    (start, end) — the numpy twin of :func:`_merge_session_items`
    (guide §4.2: batch work belongs in vectorized native code, the
    r15 stateful-kernel rewrite; equivalence is property-tested by
    test_merge_sessions_vec_matches_python_merge).

    Equivalence argument: the Python loop tracks the CURRENT session's
    running max end; here ``run_end = cummax(ends)`` is the running max
    over ALL previous items, but the two agree at every break test —
    whenever a new session starts at i (starts[i] - prev_end >= gap),
    its first item's end >= its start > every earlier end, so the
    global cummax and the within-session cummax coincide from there on.
    This holds because at most ONE item (the carried state session) is
    a non-point interval and all items are sorted by start.

    Returns (sess_start, sess_end, sess_n, sess_cents, sess_nn) arrays,
    one entry per merged session in chronological order.
    """
    brk = np.empty(len(starts), dtype=bool)
    brk[0] = True
    run_end = np.maximum.accumulate(ends)
    brk[1:] = (starts[1:] - run_end[:-1]) >= gap_us
    first = np.flatnonzero(brk)
    last = np.append(first[1:] - 1, len(starts) - 1)
    return (
        starts[first],
        run_end[last],
        np.add.reduceat(ns, first),
        np.add.reduceat(cents, first),
        np.add.reduceat(nns, first),
    )


def _merge_session_items(items: list[list], gap_us: int) -> list[list]:
    """Gaps-and-islands interval merge over [start_us, end_us, *sums]
    items (point events are [ts, ts, 1, v, ...]): sort by bounds,
    coalesce consecutive items whose start is within ``gap_us`` of the
    running session's end; every payload slot from index 2 on is an
    additive accumulator. Module-level so the cross-batch late-data
    semantics of ``stateful_sessions`` are unit-testable without a
    stream."""
    items = sorted(items, key=lambda it: (it[0], it[1]))
    sessions: list[list] = []
    for it in items:
        if sessions and it[0] - sessions[-1][1] < gap_us:
            s = sessions[-1]
            s[1] = max(s[1], it[1])
            for j in range(2, len(s)):
                s[j] += it[j]
        else:
            sessions.append(list(it))
    return sessions


def stateful_sessions(
    keyed: DataFrame,
    gap_minutes: int,
    payload_schema: StructType,
    gap_minutes_for_key=None,
) -> DataFrame:
    """Custom sessionization via grouped-map ``applyInPandasWithState``
    with EVENT-TIME TIMEOUTS — the hand-rolled twin of the built-in
    ``session_window`` (windows.py), for session semantics the built-in
    can't express (dynamic gaps, per-session early emission, custom
    merge logic). State = ONE open session per user (start_us, end_us,
    n, sum); sessions closed by a later event (gap exceeded) emit
    immediately, the open session arms an event-time timeout at
    end + gap and is emitted by the watermark — so state is bounded by
    live-user cardinality, never input volume.

    ``keyed`` must carry (user_id, ts, value) with a watermark on ts.
    Cross-batch merge handles within-watermark LATE data via a full
    interval merge (state session + batch events sorted by start,
    merged on the gap rule): a late event within gap of the open
    session's start extends it backward; one >= gap earlier becomes its
    own immediately-closed session, exactly as the batch
    gaps-and-islands oracle would emit. What it cannot recover — by
    construction of append mode — is an event late enough to belong to
    an ALREADY-EMITTED session; that is exactly the row the watermark
    contract allows dropping.

    Gap rule matches the batch oracle: a gap >= ``gap_minutes`` starts
    a new session (same boundary as session_window / the
    gaps-and-islands SQL).

    ``gap_minutes_for_key`` (optional, ``key_tuple -> int minutes``)
    makes the gap DYNAMIC per key — the session semantics the built-in
    ``session_window`` cannot express at all (its gap is one column
    expression fixed at plan time; per-key policy lookups, e.g. a
    per-tenant inactivity SLA, need the grouped-map state machine).
    The callable runs executor-side per group, so it must be a cheap
    pure function of the key (closure over a broadcast dict is fine).

    STATE-SCHEMA BREAKS: round 9 changed ``sv`` from ``double`` (raw
    dollars) to ``long`` (exact integer cents); round 13 appended
    ``nn long`` (count of NON-NULL values, so an all-NULL-value session
    emits a NULL sum exactly like the SQL oracle). A stream restarted
    from a checkpoint written by a pre-change schema will fail or
    misread its state — production deployments of
    stream_stateful_sessions / stream_dynamic_gap_sessions must start
    from a FRESH checkpoint directory (or a bumped checkpoint path)
    after upgrading across either change. The bounded-replay runners in
    this repo always stage into a new temp dir, so they are unaffected.
    """
    gap_us = gap_minutes * 60_000_000

    def _row(user_id, s):
        # state carries EXACT integer cents (see fn below); emit the
        # raw dollars — the F.round on the output DataFrame below is
        # then the identity on an exact 2dp value, matching the batch
        # oracle's exact DECIMAL accumulation byte-for-byte
        return {
            "session_start": pd.Timestamp(s[0], unit="us"),
            "user_id": user_id,
            "n_events": s[2],
            # SQL sum semantics: a session whose values are ALL NULL has
            # a NULL sum (n tracks rows, s[4] tracks non-null values) —
            # exactly what the shared gaps-and-islands oracle and the
            # built-in session_window agg both produce
            "sum_value": s[3] / 100.0 if s[4] > 0 else None,
        }

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id = key[0]
        # a NULL grouping key reaches the kernel as NaN (Arrow key
        # tuple); SQL window partitioning groups NULL users into ONE
        # session stream, so the kernel must process the group — with
        # the DEFAULT gap (a per-key gap function of a NULL key is
        # undefined; the oracle mirrors via coalesce(gap_expr, default))
        # and a NULL user_id in the emitted rows
        if user_id is None or (isinstance(user_id, float) and user_id != user_id):
            user_id = None
            g_us = gap_us
        else:
            # int() guards against numpy scalars leaking out of the
            # Arrow key tuple into state timestamps (JSON-serialized by
            # the GroupState bridge, which rejects np.int64)
            g_us = (
                int(gap_minutes_for_key(key)) * 60_000_000
                if gap_minutes_for_key is not None
                else gap_us
            )
        if state.hasTimedOut:
            s = list(state.get)
            state.remove()
            yield pd.DataFrame([_row(user_id, s)])
            return
        pdf_list = list(pdfs)
        batch = (
            pdf_list[0]
            if len(pdf_list) == 1
            else pd.concat(pdf_list, ignore_index=True)
        )
        if batch.empty:
            return
        # r15 kernel vectorization (guide §4.2): the per-key pandas path
        # (sort_values + Python list merge + list-of-dicts DataFrame)
        # dominated the drain — measured 4.1 s single-threaded for the
        # sf0.1 key population (sort 1.27, merge 1.0, out-frame 1.55).
        # The numpy path below computes the SAME integers/timestamps:
        # lexsort orders by (ts, value) with NaN-last exactly like
        # sort_values (ordering among equal ts cannot change results —
        # session boundaries depend only on ts, per-session sums are
        # commutative integer adds); cents via the same half-to-even
        # np.round; the merge via _merge_sessions_vec (equivalence
        # proven + property-tested against _merge_session_items).
        ts_us = batch["ts"].to_numpy().astype("int64") // 1000
        vals = batch["value"].to_numpy(dtype="float64", na_value=np.nan)
        order = np.lexsort((vals, ts_us))
        ts_us, vals = ts_us[order], vals[order]
        vna = np.isnan(vals)
        # NULL values follow SQL sum semantics (row counted, value
        # skipped — the shared oracle's sum(CAST(value AS DECIMAL))
        # does exactly that); genuinely non-finite DATA values still
        # fail loudly: .astype('int64') would silently map them to an
        # undefined int64 (typically INT64_MIN) and corrupt session
        # sums, where the old per-row int(round(float(v) * 100))
        # raised ValueError (r10 ADVICE)
        if not np.isfinite(vals[~vna]).all():
            raise ValueError(
                "stateful_sessions: non-finite value(s) in batch; "
                "event values must be finite"
            )
        # EXACT integer cents: a float session sum is fold-order
        # deterministic but can differ from the oracle's exact decimal
        # sum by an ulp at a round(2) boundary; integer cents make the
        # per-session sum identical by construction (np.round is
        # half-to-even like builtins.round)
        starts = ends = ts_us
        ns = np.ones(len(ts_us), dtype="int64")
        cents = np.where(vna, 0.0, vals * 100).round().astype("int64")
        nns = (~vna).astype("int64")
        if state.exists:
            # Interval merge: the state's open session is an interval
            # [start,end]; each batch event a point interval. Inserting
            # the state at its (start, end)-sorted position and merging
            # on the gap rule reproduces the batch gaps-and-islands
            # result for any within-watermark late data — a late event
            # >= gap before the open session's start becomes its own
            # (immediately closed) session, and a chain of late events
            # coalesces among itself, instead of being folded into the
            # open session (which would corrupt its bounds).
            # side='right': among equal starts the state (whose end >=
            # start = the points' end) sorts after the point items,
            # matching the Python merge's (start, end) item sort.
            s0 = state.get
            pos = int(np.searchsorted(starts, s0[0], side="right"))
            starts = np.insert(starts, pos, s0[0])
            ends = np.insert(ends, pos, s0[1])
            ns = np.insert(ns, pos, s0[2])
            cents = np.insert(cents, pos, s0[3])
            nns = np.insert(nns, pos, s0[4])
        s_start, s_end, s_n, s_cents, s_nn = _merge_sessions_vec(
            starts, ends, ns, cents, nns, g_us
        )
        wm_us = state.getCurrentWatermarkMs() * 1000
        k = len(s_start)
        open_closes = s_end[k - 1] + g_us <= wm_us
        n_closed = k if open_closes else k - 1
        if open_closes:
            state.remove()
        else:
            state.update((
                int(s_start[k - 1]), int(s_end[k - 1]),
                int(s_n[k - 1]), int(s_cents[k - 1]), int(s_nn[k - 1]),
            ))
            # strictly after the current watermark by the guard above
            state.setTimeoutTimestamp((int(s_end[k - 1]) + g_us) // 1000)
        if n_closed:
            cc, cn = s_cents[:n_closed], s_nn[:n_closed]
            yield pd.DataFrame({
                # same values as pd.Timestamp(v, unit="us") row by row
                "session_start": pd.to_datetime(s_start[:n_closed], unit="us"),
                # list form, not np.full: user_id may be None (the NULL
                # user group), which must stay an object->null column
                "user_id": [user_id] * n_closed,
                "n_events": s_n[:n_closed],
                # NaN (not None) marks the all-NULL-value session: the
                # Arrow serializer maps float NaN to SQL NULL exactly
                # like the previous object-column None
                "sum_value": np.where(cn > 0, cc / 100.0, np.nan),
            })

    out = keyed.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=payload_schema,
        stateStructType="start_us long, end_us long, n long, sv long, nn long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # engine round (half away from zero), matching the batch oracle
    return out.withColumn("sum_value", F.round("sum_value", 2))


_SENTINEL_USER = -(10**9)


def _stage_events_with_sentinel(
    spark, sf_dir: str, margin_days: int = 3650
) -> str:
    """Copy events.parquet into a temp stage dir plus a one-row SENTINEL
    file (dummy user, far-future ts, later mtime so the file source
    replays it last). On bounded replay the sentinel's batch advances
    the event-time watermark past every real session's end + gap, so
    the final no-data batch fires all armed timeouts and the append
    output is COMPLETE — the streaming result equals the batch oracle.
    (An unbounded production source needs no sentinel: the next real
    event advances the watermark.)"""
    import tempfile
    import time as _time

    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    # max(ts) from parquet ROW-GROUP STATISTICS — metadata only, zero
    # data pages read. The previous implementation materialized the
    # full ts column on the driver (pq.read_table + Python max), which
    # at 100x events is a driver-side full-column read. Footer stats
    # are written by every Spark/Arrow parquet writer; the column-read
    # fallback below only runs if a row group somehow lacks them.
    md = pq.ParquetFile(src).metadata
    tmax = None
    stats_ok = True
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            if col.path_in_schema != "ts":
                continue
            st = col.statistics
            # st.max can be None even when has_min_max claims truth
            # (e.g. an all-NULL ts chunk) — treat it like missing stats
            if st is None or not st.has_min_max or st.max is None:
                stats_ok = False
                break
            tmax = st.max if tmax is None else max(tmax, st.max)
        if not stats_ok:
            break
    if tmax is None or not stats_ok:
        # NULL event times must not reach the Python max() (None >
        # Timestamp is a TypeError — one untimed row killed the whole
        # staged replay); they carry no watermark information anyway
        ts_vals = [
            v
            for v in pq.read_table(src, columns=["ts"])["ts"].to_pylist()
            if v is not None
        ]
        # a corpus with ZERO timed events stages an arbitrary sentinel:
        # the stream flushes no real sessions and the (ts IS NOT NULL)
        # oracle is equally empty
        tmax = max(ts_vals) if ts_vals else pd.Timestamp("2000-01-01")
    # a corpus carrying garbage timestamps near the TIMESTAMP(NANOS)
    # ceiling (year 2262 — malformed logs commonly hold year-9999
    # junk that clamps there) would make this add raise an opaque
    # OutOfBoundsDatetime mid-stage. Fall back to a 1-day margin
    # (still far above every session gap this module stages — gaps
    # are minutes); only if even +1 day does not fit raise a CLEAR
    # contract error instead of a pandas internals traceback.
    try:
        sentinel_ts = pd.Timestamp(tmax) + pd.Timedelta(days=margin_days)
    except (OverflowError, pd.errors.OutOfBoundsDatetime):
        try:
            sentinel_ts = pd.Timestamp(tmax) + pd.Timedelta(days=1)
            # the degraded margin must be VISIBLE: a corpus carrying
            # clamped far-future garbage otherwise gets a materially
            # different replay sentinel with no signal to operators
            warnings.warn(
                "bounded-replay sentinel margin degraded from "
                f"{margin_days} day(s) to 1 day: max event time {tmax} "
                "is within margin of the TIMESTAMP(NANOS) ceiling "
                "(2262-04-11) — the corpus likely carries clamped "
                "far-future garbage timestamps; filter or cap them "
                "upstream",
                RuntimeWarning,
                stacklevel=2,
            )
        except (OverflowError, pd.errors.OutOfBoundsDatetime):
            raise ValueError(
                "bounded-replay sentinel needs headroom above max(ts): "
                f"max event time {tmax} is within 1 day of the "
                "TIMESTAMP(NANOS) ceiling (2262-04-11); filter or cap "
                "malformed far-future timestamps upstream"
            ) from None
    # stage only once the sentinel fits: a corpus that fails the
    # headroom check above leaves no stage dir behind
    stage = tempfile.mkdtemp(prefix="bdi_sess_stage_")
    dst = os.path.join(stage, "00_events.parquet")
    shutil.copyfile(src, dst)
    # Write the sentinel THROUGH SPARK against the staged file's own
    # Spark-visible schema. A pyarrow-written sentinel reproduces the
    # source's ARROW schema but not necessarily its PARQUET physical
    # type: an INT96-timestamp source (Spark's default writer shape)
    # reads back as TIMESTAMP while a pyarrow ns-sentinel lands as
    # TIMESTAMP(NANOS) INT64 — which the session's nanosAsLong flag
    # surfaces as LONG, and the mixed-type stage kills the stream with
    # PARQUET_COLUMN_DATA_TYPE_MISMATCH. Spark-writing the row from the
    # staged file's schema is uniform for every on-disk ts shape.
    import glob as _glob

    batch_schema = spark.read.parquet(dst).schema
    ts_field = batch_schema["ts"].dataType.typeName()
    ts_value = (
        int(pd.Timestamp(sentinel_ts).value)  # nanos long on nanosAsLong tables
        if ts_field == "long"
        else pd.Timestamp(sentinel_ts).to_pydatetime()
    )
    row = {
        "event_id": -1,
        "ts": ts_value,
        "user_id": _SENTINEL_USER,
        "event_type": "__sentinel__",
        "value": 0.0,
        "props": None,
    }
    sent_dir = os.path.join(stage, "_sentinel_write")
    # The 1-row frame enters Spark as a PANDAS frame (Arrow path): the
    # JVM receives one native Arrow batch, so the coalesce(1) write is a
    # pure-JVM single task. The previous list-of-tuples createDataFrame
    # parallelized into defaultParallelism pickled Python slices and the
    # coalesced write task replayed every slice through a Python worker
    # round-trip SERIALLY — measured 5-6.5 s per staging call at 32
    # cores vs ~0.1 s for the Arrow batch (guide §4.1: control how data
    # crosses the Python boundary).
    sentinel_pdf = pd.DataFrame(
        {f.name: [row[f.name]] for f in batch_schema}, dtype=object
    )
    (
        spark.createDataFrame(sentinel_pdf, batch_schema)
        .coalesce(1)
        .write.parquet(sent_dir)
    )
    spath = os.path.join(stage, "01_sentinel.parquet")
    shutil.move(_glob.glob(os.path.join(sent_dir, "part-*.parquet"))[0], spath)
    shutil.rmtree(sent_dir)
    now = _time.time()
    os.utime(dst, (now - 60, now - 60))
    os.utime(spath, (now, now))
    return stage


def run_staged_sessions(
    spark, sf_dir: str, query_name: str, gap_minutes_for_key=None
) -> tuple[DataFrame, StreamingQuery]:
    """The sentinel-staged bounded replay of :func:`stateful_sessions`
    (10-minute gap, or ``gap_minutes_for_key``): stage the events with a
    sentinel, drain the sessions in append mode at a state-partition
    count scaled from the stage directory, and remove the stage.

    Returns the per-user sessions without the sentinel's, and the
    terminated query (its ``recentProgress`` holds the per-batch
    progress)."""
    stage = _stage_events_with_sentinel(spark, sf_dir)
    try:
        batch_schema = spark.read.parquet(
            os.path.join(stage, "00_events.parquet")
        ).schema
        # ONE data batch (no maxFilesPerTrigger): events + sentinel land
        # in the same micro-batch. The sentinel is purely a watermark
        # vehicle — it is its own key, the state kernel sorts each
        # group's batch by ts, and timeouts fire in the final no-data
        # batch either way — so splitting it into a second batch only
        # repeated the whole state machinery (plan + state-store commit
        # + Python state workers per partition) for one row. A/B at
        # sf0.1: 8.0 s -> 4.0 s drain, output hash identical (guide
        # §1.2: remove unnecessary passes).
        stream = normalize_event_ts(
            spark.readStream.schema(batch_schema).parquet(stage)
        )
        keyed = (
            # untimed events quarantine BEFORE the state machine: unlike
            # the built-in windowed aggs (which silently drop NULL event
            # times at the watermark), the grouped-map state kernel would
            # receive the NULL and crash comparing None > Timestamp
            stream.where(F.col("ts").isNotNull())
            .withWatermark("ts", "1 minute")
            .select("user_id", "ts", "value")
        )
        out_schema = StructType(
            [
                StructField("session_start", TimestampType()),
                StructField("user_id", LongType()),
                StructField("n_events", LongType()),
                StructField("sum_value", DoubleType()),
            ]
        )
        sessions = stateful_sessions(
            keyed, 10, out_schema, gap_minutes_for_key=gap_minutes_for_key
        )
        # partition-count-independent result (oracle-parity swept at
        # 3/32/200 partitions); only the state-exchange width changes
        q = drain(sessions, query_name, scale=stage)
    finally:
        # the memory sink holds the rows; the staged copy is dead weight
        shutil.rmtree(stage, ignore_errors=True)
    drained = spark.table(query_name)
    # eqNullSafe: the NULL-user session must SURVIVE this filter (SQL
    # window partitioning emits it; plain != would NULL it away)
    return drained.where(~F.col("user_id").eqNullSafe(F.lit(_SENTINEL_USER))), q


def run_stream_stateful_sessions_over_events(
    spark, sf_dir: str, query_name: str = "bdi_stateful_sessions"
) -> DataFrame:
    """Execute the custom stateful sessionization as a real streaming
    query (file source + sentinel flush, memory sink, append mode) and
    return per-user sessions — must equal the batch gaps-and-islands
    aggregation (the stream_user_sessions oracle)."""
    return run_staged_sessions(spark, sf_dir, query_name)[0]


def run_stream_dynamic_gap_sessions_over_events(
    spark, sf_dir: str, query_name: str = "bdi_dyngap_sessions"
) -> DataFrame:
    """Sessionization with a PER-USER inactivity gap — 5/10/15 minutes
    by user_id % 3, standing in for a per-tenant SLA lookup. This is
    the session semantics the built-in ``session_window`` cannot
    express (its gap is a single plan-time column expression; the
    grouped-map state machine computes the gap per KEY, here a pure
    function of the key, in production a broadcast policy dict).
    Same sentinel-staged bounded replay + watermark flush as the
    fixed-gap runner; equals the batch gaps-and-islands oracle with
    the same per-user gap expression."""
    return run_staged_sessions(
        spark, sf_dir, query_name,
        gap_minutes_for_key=lambda key: 5 + (key[0] % 3) * 5,
    )[0]


def _stage_events_chunks(sf_dir: str, n_chunks: int = 2) -> str:
    """Split events.parquet into ``n_chunks`` ts-ordered files in a temp
    stage dir with ascending mtimes — bounded replay as N micro-batches
    so cross-batch state paths actually execute."""
    import tempfile
    import time as _time

    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    stage = tempfile.mkdtemp(prefix="bdi_chunk_stage_")
    t = pq.read_table(src).sort_by("ts")
    n = t.num_rows
    now = _time.time()
    for i in range(n_chunks):
        lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
        path = os.path.join(stage, f"{i:02d}_chunk.parquet")
        pq.write_table(t.slice(lo, hi - lo), path)
        os.utime(path, (now - 60 * (n_chunks - i), now - 60 * (n_chunks - i)))
    return stage


def run_stream_running_totals_over_events(
    spark, sf_dir: str, query_name: str = "bdi_running_totals"
) -> DataFrame:
    """Per-user RUNNING totals via ``transformWithStateInPandas`` — the
    Spark 4.x arbitrary-state API (StatefulProcessor + typed ValueState
    on the RocksDB state store), the successor to
    ``applyInPandasWithState``. Each micro-batch emits the user's
    cumulative (n_events, sum_value); totals are STRICTLY increasing in
    n_events, so the final per-user row is ``max_by`` over emissions —
    deterministic however the replay is chunked — and equals the batch
    groupBy (the oracle).

    Scale: one tiny ValueState record per user on RocksDB (spillable,
    incremental checkpoints); emission volume is users x batches, not
    input rows.

    ENVIRONMENT GATE: the transformWithState Python driver worker
    speaks protobuf to the JVM state server; this container has no
    ``google.protobuf`` (and installs are off), so the query CANNOT run
    here — it raises the ImportError below up front instead of crashing
    mid-stream. The covering test importorskips; re-check the module
    each round (same policy as the codec libs for decode_media).
    """
    import importlib.util

    # find_spec("google.protobuf") itself raises if the parent package
    # is absent entirely — treat either shape as "not installed"
    try:
        have_pb = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        have_pb = False
    if not have_pb:
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf "
            "(absent in this container; its state server protocol is "
            "protobuf-framed)"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, sv double")

        def handleInputRows(self, key, rows, timerValues):
            prev = self._totals.get()
            n, sv = (prev[0], prev[1]) if prev is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                sv += float(pdf["value"].sum())
            self._totals.update((n, sv))
            # emit the RAW sum — Python round() is banker's; F.round on
            # the output below keeps rounding engine-identical (same
            # pattern as stateful_sessions)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [sv],
                }
            )

        def close(self) -> None:
            pass

    stage = _stage_events_chunks(sf_dir, n_chunks=2)
    batch_schema = spark.read.parquet(os.path.join(stage, "00_chunk.parquet")).schema
    stream = normalize_event_ts(
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    # the transformWithState operator requires the RocksDB state store;
    # scope the provider to this run and restore the previous value so
    # the HDFS-backed runners keep their (faster-locally) default
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        emitted = (
            stream.select("user_id", "value")
            .groupBy("user_id")
            .transformWithStateInPandas(
                RunningTotals(),
                outputStructType="user_id long, n_events long, sum_value double",
                outputMode="Update",
                timeMode="None",
            )
        )
        drain(emitted, query_name, "update")
    finally:
        if prev is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, prev)
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(query_name).groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max_by("sum_value", "n_events"), 2).alias("sum_value"),
    )


def run_stream_quality_gated_write(
    spark,
    source_df,
    good_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    null_col: str,
    max_null_frac: float = 0.5,
):
    """Quality-gated streaming sink via foreachBatch: each micro-batch
    is audited (row count + null fraction of ``null_col``, one cached
    pass) and routed WHOLE to the good table or the quarantine
    directory — the circuit-breaker pattern for upstream feed
    corruption, where a half-broken drop should never pollute the
    serving table. Batch-level decisions land in a JSONL audit log
    next to the good table.

    Exactly-once composition: foreachBatch + the engine checkpoint
    replays an uncommitted batch with the same batch_id; both writes
    are per-batch-id parquet appends, so a replayed batch overwrites
    its own files rather than duplicating rows (idempotent by path).
    """
    import json

    def _process(batch_df, batch_id: int) -> None:
        batch_df = batch_df.cache()
        try:
            stats = batch_df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(null_col).isNull().cast("long")).alias("nulls"),
            ).first()
            n, nulls = stats["n"], stats["nulls"] or 0
            if n == 0:
                return
            bad = nulls / n > max_null_frac
            target = quarantine_dir if bad else good_dir
            # per-batch subdirectory => replays overwrite themselves
            batch_df.write.mode("overwrite").parquet(
                os.path.join(target, f"batch_id={batch_id}")
            )
            os.makedirs(good_dir, exist_ok=True)
            with open(os.path.join(good_dir, "_audit.jsonl"), "a") as fh:
                fh.write(
                    json.dumps(
                        {
                            "batch_id": batch_id,
                            "n_rows": n,
                            "null_frac": round(nulls / n, 4),
                            "quarantined": bad,
                        }
                    )
                    + "\n"
                )
        finally:
            batch_df.unpersist()

    await_drained(
        source_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
