"""Streaming checkpoint recovery: a restarted query must resume from
committed offsets (no reprocessing of already-committed files) and the
recovered run's cumulative result must equal the batch aggregation —
the exactly-once-source contract a production stream depends on."""

from __future__ import annotations

import os
import shutil

import glob

from pyspark.sql import functions as F


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, "k STRING, v DOUBLE").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _run_available(spark, src, sink, ckpt):
    stream = (
        spark.readStream.schema("k STRING, v DOUBLE").parquet(src)
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)


def test_checkpoint_restart_does_not_reprocess(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    batch_a = [("a", 1.0), ("b", 2.0)]
    batch_b = [("a", 3.0), ("c", 4.0)]

    _write_batch(spark, src, batch_a)
    _run_available(spark, src, sink, ckpt)
    n_after_a = spark.read.parquet(sink).count()
    assert n_after_a == len(batch_a)

    # new file lands; the restarted query (same checkpoint) must emit
    # ONLY the new rows — committed offsets survive the restart
    _write_batch(spark, src, batch_b)
    _run_available(spark, src, sink, ckpt)

    out = spark.read.parquet(sink)
    assert out.count() == len(batch_a) + len(batch_b)  # no duplicates
    got = (
        out.groupBy("k").agg(F.round(F.sum("v"), 2).alias("s")).collect()
    )
    assert {(r.k, r.s) for r in got} == {("a", 4.0), ("b", 2.0), ("c", 4.0)}

    # and a third restart with NO new data is a clean no-op
    _run_available(spark, src, sink, ckpt)
    assert spark.read.parquet(sink).count() == len(batch_a) + len(batch_b)


def test_append_mode_matches_batch_closed_windows(spark, tmp_path):
    # the PRODUCTION streaming path: append mode + durable parquet sink.
    # Every window the watermark closed must be emitted exactly once and
    # equal the batch aggregation row-for-row; windows still open at
    # end-of-input (within the watermark delay of max ts) must be absent.
    from biodiversity_data_ingestion_spark.sources.tables import load_table
    from biodiversity_data_ingestion_spark.streaming.windows import (
        run_stream_append_to_files,
        windowed_event_counts,
    )

    from .conftest import SMOKE_DIR

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    got = run_stream_append_to_files(spark, SMOKE_DIR, out, ckpt)

    ev = load_table(spark, SMOKE_DIR, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    batch = windowed_event_counts(ev).withColumn(
        "window_end", F.col("window_start") + F.expr("INTERVAL 1 HOUR")
    )
    # final watermark = max(ts) - 2h (the declared delay); closed =
    # window_end <= watermark
    wm = F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
    expected = batch.where(F.col("window_end") <= wm).drop("window_end")

    key = ["window_start", "event_type", "n_events", "n_users", "sum_value"]
    got_set = {tuple(r) for r in got.select(*key).collect()}
    exp_set = {tuple(r) for r in expected.select(*key).collect()}
    assert got_set == exp_set
    assert len(got_set) == got.count()  # exactly-once: no duplicate rows
    # the bounded replay must actually have exercised both cases
    assert len(exp_set) > 0
    assert batch.count() > len(exp_set)


def test_stateful_sessions_merge_across_microbatches(spark, tmp_path):
    # The applyInPandasWithState sessionizer must MERGE a session that
    # spans a micro-batch boundary (open state + next batch's events)
    # and flush the final open sessions via event-time timeout. Stage:
    # two ts-ordered chunks + a far-future sentinel, mtime-ordered so
    # the file source replays them as three separate batches.
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from biodiversity_data_ingestion_spark.streaming.stateful import (
        _SENTINEL_USER,
        stateful_sessions,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    base = 1_700_000_000_000_000  # us epoch
    MIN = 60_000_000
    rows = [
        # user 1: events 0m,5m | boundary | 12m (merges: every gap < 10m),
        # then 40m (new session)
        (1, base + 0 * MIN, 1.0), (1, base + 5 * MIN, 2.0),
        (1, base + 12 * MIN, 3.0), (1, base + 40 * MIN, 4.0),
        # user 2: 0m | boundary | 30m — gap 30m >= 10m: two sessions
        (2, base + 0 * MIN, 5.0), (2, base + 30 * MIN, 6.0),
    ]
    chunk1 = [r for r in rows if r[1] < base + 10 * MIN]
    chunk2 = [r for r in rows if r[1] >= base + 10 * MIN]
    schema = pa.schema(
        [("user_id", pa.int64()), ("ts", pa.timestamp("us")), ("value", pa.float64())]
    )

    def write(name, data, mtime):
        t = pa.Table.from_pylist(
            [{"user_id": u, "ts": ts, "value": v} for u, ts, v in data], schema=schema
        )
        p = str(tmp_path / name)
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    now = _time.time()
    write("00_chunk.parquet", chunk1, now - 120)
    write("01_chunk.parquet", chunk2, now - 60)
    write("02_sentinel.parquet", [(_SENTINEL_USER, base + 100_000 * MIN, 0.0)], now)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path))
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
    q = (
        stateful_sessions(stream, 10, out_schema)
        .writeStream.format("memory")
        .queryName("t_sess_merge")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    got = {
        (r.user_id, r.session_start.timestamp() * 1_000_000, r.n_events, r.sum_value)
        for r in spark.table("t_sess_merge").collect()
        if r.user_id != _SENTINEL_USER
    }
    # session spanning the batch boundary merged 0m+5m (batch 1) with
    # 12m (batch 2); the rest split on >= 10m gaps
    assert got == {
        (1, float(base), 3, 6.0),
        (1, float(base + 40 * MIN), 1, 4.0),
        (2, float(base), 1, 5.0),
        (2, float(base + 30 * MIN), 1, 6.0),
    }


def test_transform_with_state_running_totals(spark):
    # Spark 4.x arbitrary-state API (StatefulProcessor + ValueState on
    # RocksDB). The container lacks google.protobuf (the state server's
    # wire protocol), so this skips there — the runner raises a clear
    # ImportError up front instead of crashing the stream mid-batch.
    import pytest

    pytest.importorskip("google.protobuf")
    from biodiversity_data_ingestion_spark.streaming.stateful import (
        run_stream_running_totals_over_events,
    )

    got = {
        (r.user_id, r.n_events, r.sum_value)
        for r in run_stream_running_totals_over_events(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    exp = {
        (r.user_id, r.n_events, r.sum_value)
        for r in spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert got == exp


def test_transform_with_state_runner_raises_cleanly_without_protobuf(spark):
    # the gate itself: with protobuf absent the runner must fail fast
    # with an actionable ImportError, not a mid-stream worker crash
    import importlib.util

    try:
        if importlib.util.find_spec("google.protobuf") is not None:
            return  # gate inactive — covered by the test above
    except ModuleNotFoundError:
        pass
    import pytest

    from biodiversity_data_ingestion_spark.streaming.stateful import (
        run_stream_running_totals_over_events,
    )

    with pytest.raises(ImportError, match="protobuf"):
        run_stream_running_totals_over_events(spark, "/root/testdata/sf0.001")


def test_merge_session_items_late_event_semantics():
    # pure-Python unit of the cross-batch merge: the three
    # within-watermark late-data shapes the stream must reproduce
    # exactly as the batch gaps-and-islands oracle would
    from biodiversity_data_ingestion_spark.streaming.stateful import (
        _merge_session_items,
    )

    gap = 100  # us
    state = [1000, 1200, 3, 30.0]  # open session from a prior batch

    # (1) late event within gap of the open session's START extends it
    # backward (min-start fold)
    got = _merge_session_items([list(state), [950, 950, 1, 5.0]], gap)
    assert got == [[950, 1200, 4, 35.0]]

    # (2) late event >= gap BEFORE the start becomes its OWN session —
    # the pre-fix code folded it in (always-true negative-diff check)
    got = _merge_session_items([list(state), [800, 800, 1, 5.0]], gap)
    assert got == [[800, 800, 1, 5.0], [1000, 1200, 3, 30.0]]

    # (3) a chain of late events coalesces among itself, separate from
    # the open session
    got = _merge_session_items(
        [list(state), [700, 700, 1, 5.0], [750, 750, 1, 6.0]], gap
    )
    assert got == [[700, 750, 2, 11.0], [1000, 1200, 3, 30.0]]

    # (4) in-order events still append/fold exactly as before
    got = _merge_session_items(
        [list(state), [1250, 1250, 1, 1.0], [1400, 1400, 1, 2.0]], gap
    )
    assert got == [[1000, 1250, 4, 31.0], [1400, 1400, 1, 2.0]]

    # (5) empty input
    assert _merge_session_items([], gap) == []


def test_drop_feed_stream_source_offset_recovery(spark, tmp_path):
    # custom Python streaming source: first run consumes both drops;
    # after restart FROM THE SAME CHECKPOINT only the new drop's rows
    # flow — the engine's offset log drives our reader's file ranges
    import json

    from biodiversity_data_ingestion_spark.sources import paginated

    paginated.register(spark)
    drops = tmp_path / "drops"
    drops.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        with open(drops / name, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")

    out = str(tmp_path / "out")

    def run():
        # durable file sink (the memory sink cannot recover from a
        # checkpoint); duplicates after restart would prove the offset
        # log was ignored
        q = (
            spark.readStream.format("bdi_drop_feed")
            .option("path", str(drops))
            .option("schema", "id long, v double")
            .load()
            .writeStream.format("json")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(r["id"] for r in spark.read.json(out).collect())

    drop("00.jsonl", [{"id": 1, "v": 0.5}, {"id": 2, "v": 1.5}])
    drop("01.jsonl", [{"id": 3, "v": 2.5}])
    assert run() == [1, 2, 3]
    drop("02.jsonl", [{"id": 4, "v": 3.5}, {"id": 5, "v": 4.5}])
    # SAME checkpoint: only the unconsumed drop flows — ids 1-3 appear
    # exactly once across both runs (no replay, no loss)
    assert run() == [1, 2, 3, 4, 5]


def test_quality_gated_write_quarantines_bad_batches(spark, tmp_path):
    # two micro-batches: a clean drop lands in the good table, a
    # majority-null drop is quarantined WHOLE; the audit log records
    # both decisions
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from biodiversity_data_ingestion_spark.streaming.stateful import (
        run_stream_quality_gated_write,
    )

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"id": [1, 2, 3], "v": [1.0, 2.0, 3.0]}),
        str(src / "00.parquet"),
    )
    pq.write_table(
        pa.table(
            {"id": [4, 5, 6], "v": pa.array([None, None, 6.0], type=pa.float64())}
        ),
        str(src / "01.parquet"),
    )
    os.utime(str(src / "01.parquet"), (2_000_000_000, 2_000_000_000))
    stream = (
        spark.readStream.schema("id long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    good, quar = str(tmp_path / "good"), str(tmp_path / "quar")
    run_stream_quality_gated_write(
        spark, stream, good, quar, str(tmp_path / "ckpt"), "v", 0.5
    )
    good_ids = sorted(
        r["id"] for r in spark.read.option("basePath", good).parquet(good).collect()
    )
    quar_ids = sorted(
        r["id"] for r in spark.read.option("basePath", quar).parquet(quar).collect()
    )
    assert good_ids == [1, 2, 3] and quar_ids == [4, 5, 6]
    audit = [
        json.loads(line) for line in open(os.path.join(good, "_audit.jsonl"))
    ]
    assert [a["quarantined"] for a in sorted(audit, key=lambda a: a["batch_id"])] == [
        False,
        True,
    ]


def test_sentinel_staging_near_timestamp_ceiling(spark, tmp_path):
    # A corpus with garbage far-future timestamps (year-9999 junk clamps
    # at the TIMESTAMP(NANOS) ceiling, year 2262) used to make the
    # sentinel add raise an opaque pandas OutOfBoundsDatetime mid-stage.
    # Contract now: fall back to a 1-day margin when the default does
    # not fit; raise a CLEAR error only when max(ts) is within 1 day of
    # the ceiling. (The sentinel row is Spark-written from the staged
    # file's own schema since the streaming garbage tier, so the
    # session fixture is needed for the write path.)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from biodiversity_data_ingestion_spark.streaming.stateful import (
        _stage_events_with_sentinel,
    )

    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("ns")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )

    def stage_dir(tmax):
        d = tmp_path / f"sf_{tmax.value}"
        d.mkdir()
        t = pa.Table.from_pylist(
            [
                {"event_id": 1, "ts": tmax - pd.Timedelta(hours=1),
                 "user_id": 7, "event_type": "a", "value": 1.0, "props": None},
                {"event_id": 2, "ts": tmax,
                 "user_id": 7, "event_type": "b", "value": 2.0, "props": None},
            ],
            schema=schema,
        )
        pq.write_table(t, str(d / "events.parquet"))
        return str(d)

    made = []  # the stage dirs of the two successful stagings
    try:
        # within 10 years of the ceiling but > 1 day: 1-day fallback engages
        # AND is VISIBLE (ADVICE r12: a silently degraded margin means a
        # materially different replay sentinel with no operator signal)
        import warnings as _warnings

        near = pd.Timestamp.max - pd.Timedelta(days=100)
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            stage = _stage_events_with_sentinel(spark, stage_dir(near))
            made.append(stage)
        assert any(
            issubclass(w.category, RuntimeWarning)
            and "sentinel margin degraded" in str(w.message)
            for w in caught
        ), "1-day fallback must warn"
        sent = pq.read_table(f"{stage}/01_sentinel.parquet")["ts"].to_pylist()[0]
        assert pd.Timestamp(sent) == near + pd.Timedelta(days=1)

        # within 1 day of the ceiling: clear contract error, not a pandas
        # internals traceback
        import pytest as _pytest

        import tempfile

        def stages():
            return set(glob.glob(os.path.join(tempfile.gettempdir(), "bdi_sess_stage_*")))

        at_edge = pd.Timestamp.max - pd.Timedelta(hours=2)
        before = stages()
        with _pytest.raises(ValueError, match="headroom above max"):
            _stage_events_with_sentinel(spark, stage_dir(at_edge))
        assert stages() == before, "a failed staging must leave no stage dir"

        # ordinary data: default margin unchanged, and NO degradation warn
        normal = pd.Timestamp("2024-06-01 12:00:00")
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            stage = _stage_events_with_sentinel(spark, stage_dir(normal))
            made.append(stage)
        assert not any(
            "sentinel margin degraded" in str(w.message) for w in caught
        ), "ordinary data must not warn"
        sent = pq.read_table(f"{stage}/01_sentinel.parquet")["ts"].to_pylist()[0]
        assert pd.Timestamp(sent) == normal + pd.Timedelta(days=3650)
    finally:
        for d in made:
            shutil.rmtree(d, ignore_errors=True)
