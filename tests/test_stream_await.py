"""Every bounded replay in the package ends on one checked await,
``streaming.replay.await_drained``. ``StreamingQuery.awaitTermination``
returns False on timeout instead of raising, so a runner that ignored
it would leave its query running and hand back whatever the sink held
at that moment."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import biodiversity_data_ingestion_spark as pkg

from .conftest import SMOKE_DIR


def test_await_termination_is_called_only_in_the_shared_await():
    root = Path(pkg.__file__).parent
    calls = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        calls += [
            (path.relative_to(root).as_posix(), node.lineno)
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "awaitTermination"
        ]
    replay = ast.parse((root / "streaming" / "replay.py").read_text())
    shared = next(
        n for n in ast.walk(replay)
        if isinstance(n, ast.FunctionDef) and n.name == "await_drained"
    )
    assert len(calls) == 1, f"awaitTermination called outside await_drained: {calls}"
    rel, line = calls[0]
    assert rel == "streaming/replay.py"
    assert shared.lineno <= line <= shared.end_lineno


def _memory_sink_runner(spark, tmp_path):
    from biodiversity_data_ingestion_spark.streaming.windows import (
        run_stream_over_events,
    )

    return run_stream_over_events(spark, SMOKE_DIR, query_name="t_await_mem")


def _foreach_batch_runner(spark, tmp_path):
    from biodiversity_data_ingestion_spark.streaming.stateful import (
        run_stream_cdc_upsert_over_events,
    )

    return run_stream_cdc_upsert_over_events(
        spark, SMOKE_DIR, state_dir=str(tmp_path / "cdc")
    )


@pytest.mark.parametrize("runner", [_memory_sink_runner, _foreach_batch_runner])
def test_unfinished_replay_raises_and_stops_its_query(
    spark, tmp_path, monkeypatch, runner
):
    from pyspark.sql.streaming.query import StreamingQuery

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    # an entry value the memory-sink runner's data-scaled count (floor
    # 8) differs from, so a count left behind would show
    spark.conf.set(key, "5")
    try:
        monkeypatch.setattr(
            StreamingQuery, "awaitTermination", lambda self, timeout=None: False
        )
        with pytest.raises(TimeoutError, match="did not drain"):
            runner(spark, tmp_path)
        monkeypatch.undo()
        assert spark.streams.active == []
        assert spark.conf.get(key) == "5"
    finally:
        spark.conf.set(key, before)
