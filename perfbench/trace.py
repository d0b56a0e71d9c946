"""Per-layer tracing for ``run.py --trace 1``.

Everything here observes the engine from outside, through calls the
benchmark makes anyway:

- a job group per engine call (``<pass>:<step>:build|run|readback``),
  resolved after the call to its jobs and stages through Spark's status
  tracker and the JVM status store (``statusStore().lastStageAttempt``,
  live with ``spark.ui.enabled=false``): executor run/CPU/GC time,
  shuffle write, input bytes and records, spill, failed tasks;
- a ``StreamingQueryListener`` for the bounded event replay's batches;
- the number of persisted RDDs still registered after each step returns;
- the JVM's peak resident set (``VmHWM``).

Spans stay in memory during the run and are written out at its end.
Only traced passes are read; untraced passes in the same run give the
baseline for ``trace.overhead_frac``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from steps import PER_LAYER

_STAGE_FIELDS = (
    ("exec.run_s", "executorRunTime", 1e-3),
    ("exec.cpu_s", "executorCpuTime", 1e-9),
    ("exec.gc_s", "jvmGcTime", 1e-3),
    ("exec.shuffle_write_mb", "shuffleWriteBytes", 1.0 / (1 << 20)),
    ("sources.input_mb", "inputBytes", 1.0 / (1 << 20)),
    ("sources.input_rows", "inputRecords", 1.0),
    ("exec.spill_mb", "memoryBytesSpilled", 1.0 / (1 << 20)),
    ("exec.spill_mb", "diskBytesSpilled", 1.0 / (1 << 20)),
    ("exec.tasks_failed", "numFailedTasks", 1.0),
    ("plans.tasks", "numTasks", 1.0),
)


def _listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Collects progress per streaming run, in start order."""

        def __init__(self):
            self.runs: dict[str, list] = {}

        def onQueryStarted(self, event):
            self.runs.setdefault(str(event.runId), [])

        def onQueryProgress(self, event):
            p = event.progress
            self.runs.setdefault(str(p.runId), []).append(
                (
                    int(p.numInputRows),
                    float(p.durationMs.get("triggerExecution", 0)),
                    sum(int(s.numRowsTotal) for s in p.stateOperators),
                )
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress


class Tracer:
    def __init__(self, spark, workload: str, cpus: int):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.workload = workload
        self.cpus = cpus
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        self.listener = _listener_class()()
        spark.streams.addListener(self.listener)
        self.seen_stages: set[int] = set()
        self.rec = None
        self.stream_runs_before = 0

    # -- per pass -----------------------------------------------------
    def begin_pass(self, rec: dict) -> None:
        self.rec = rec
        rec["layer"] = defaultdict(float)
        self.stream_runs_before = len(self.listener.runs)

    def enter(self, label: str) -> None:
        self.sc.setJobGroup(label, label)
        self._t = time.perf_counter()

    def exit(self, label: str, step) -> None:
        wall = time.perf_counter() - self._t
        self.sc.setJobGroup("perfbench:idle", "idle")
        stats = self._group_stats(label)
        layer = self.rec["layer"]
        for k, v in stats.items():
            if k != "jobs":
                layer[k] += v
        layer["plans.jobs"] += stats["jobs"]
        if label.endswith(":build") and stats["jobs"]:
            layer["plans.eager_jobs"] += stats["jobs"]
            layer["plans.eager_s"] += wall
        if step is not None:
            family = step.metric.split(".")[0]
            if family in ("corpus", "similarity"):
                layer[f"{family}.jobs"] += stats["jobs"]
            if family == "corpus":
                layer["corpus.shuffle_write_mb"] += stats.get("exec.shuffle_write_mb", 0.0)

    def before_step(self) -> None:
        self._persisted_before_step = self._persisted()

    def after_step(self, step) -> None:
        # persisted RDDs the step left registered once it has returned
        # and its result has been consumed (cache-release, observed)
        if step.metric.startswith("corpus."):
            self.rec["layer"]["corpus.leaked_rdds"] += max(
                0, self._persisted() - self._persisted_before_step
            )

    def rows(self, step, columns, rows) -> None:
        if not step.metric.startswith("multimodal."):
            return
        layer = self.rec["layer"]
        payload = [i for i, c in enumerate(columns) if c != columns[0]]
        layer["multimodal.rows"] += len(rows)
        layer["multimodal.rejected"] += sum(
            all(r[i] is None for i in payload) for r in rows
        )

    def end_pass(self, rec: dict, wl) -> None:
        layer = rec["layer"]
        total = 0
        files = 0
        for base, _, names in os.walk(wl.publish):
            for n in names:
                if not n.startswith(("_", ".")):
                    files += 1
                    total += os.path.getsize(os.path.join(base, n))
        layer["sinks.output_mb"] = total / (1 << 20)
        layer["sinks.output_files"] = files
        rec["stream_runs"] = (self.stream_runs_before, len(self.listener.runs))
        self.rec = None

    # -- status store -------------------------------------------------
    def _persisted(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def _group_stats(self, group: str) -> dict:
        stats = defaultdict(float)
        jids = list(self.tracker.getJobIdsForGroup(group))
        stats["jobs"] = len(jids)
        # the status store is fed by the listener bus, which can trail
        # the action that just returned: wait until every job of the
        # group has its end event before reading its stages
        deadline = time.perf_counter() + 5.0
        infos = []
        for jid in jids:
            info = self.tracker.getJobInfo(jid)
            while info is not None and info.status in ("RUNNING", "UNKNOWN") and time.perf_counter() < deadline:
                time.sleep(0.01)
                info = self.tracker.getJobInfo(jid)
            if info is not None:
                infos.append(info)
        for info in infos:
            for sid in info.stageIds:
                if sid in self.seen_stages:
                    continue
                try:
                    sd = self.store.lastStageAttempt(int(sid))
                except Py4JJavaError:  # never attempted (skipped): no data
                    continue
                if str(sd.status().toString()) == "SKIPPED":
                    continue
                self.seen_stages.add(sid)
                stats["plans.stages"] += 1
                for name, getter, scale in _STAGE_FIELDS:
                    stats[name] += float(getattr(sd, getter)()) * scale
        return stats

    # -- report -------------------------------------------------------
    def report(self, wl, post: list[dict], process: dict, job_seconds) -> dict:
        """Every per-layer metric: medians over the traced passes among
        the steady passes ``post``, the process-level figures in
        ``process``, and the tracing overhead."""
        time.sleep(0.5)  # let trailing streaming progress events land
        traced = [p for p in post if p["traced"]]
        plain = [p for p in post if not p["traced"]]
        out = {name: 0.0 for name, _ in PER_LAYER}
        keys = sorted({k for p in traced for k in list(p["spans"]) + list(p["views"]) + list(p["layer"])})
        for k in keys:
            out[k] = statistics.median(
                p["spans"].get(k, p["views"].get(k, p["layer"].get(k, 0.0))) for p in traced
            )
        for p in traced:
            self._stream_stats(p)
        for k in ("streaming.batches", "streaming.input_rows", "streaming.state_rows", "streaming.batch_ms"):
            out[k] = statistics.median(p["layer"].get(k, 0.0) for p in traced)
        walls = [sum(p["spans"].values()) for p in traced]
        out["exec.busy_frac"] = statistics.median(
            p["layer"].get("exec.run_s", 0.0) / (w * self.cpus) for p, w in zip(traced, walls)
        )
        rows = statistics.median(p["layer"].get("multimodal.rows", 0.0) for p in traced)
        mm = sum(out[k] for k in out if k.startswith("multimodal.") and k.endswith("_s"))
        out["multimodal.rows_per_s"] = rows / mm if mm else 0.0
        out["multimodal.reject_frac"] = (
            statistics.median(p["layer"].get("multimodal.rejected", 0.0) for p in traced) / rows
            if rows else 0.0
        )
        traced_s, plain_s = job_seconds(traced), job_seconds(plain)
        out["trace.overhead_frac"] = traced_s / plain_s - 1.0
        out["wall.cold_job_s"] = wl.passes[0]["wall_s"]
        out["wall.job_s"] = statistics.median(p["wall_s"] for p in plain)
        out["host.steal_frac"] = statistics.median(
            p["steal_s"] / (p["wall_s"] * os.cpu_count()) for p in wl.passes
        )
        out.update(process)
        out["jvm.peak_rss_mb"] = self._peak_rss_mb()
        return {name: out[name] for name, _ in PER_LAYER}

    def _stream_stats(self, rec: dict) -> None:
        runs = list(self.listener.runs.values())[slice(*rec["stream_runs"])]
        progress = [e for run in runs for e in run]
        layer = rec["layer"]
        layer["streaming.batches"] = len(progress)
        layer["streaming.input_rows"] = sum(e[0] for e in progress)
        layer["streaming.state_rows"] = max((e[2] for e in progress), default=0)
        layer["streaming.batch_ms"] = statistics.median(e[1] for e in progress) if progress else 0.0

    def _peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def write_spans(self, path: str, wl) -> None:
        spans = [
            {
                "pass": p["index"],
                "traced": p["traced"],
                "spans": dict(p["spans"]),
                "views": dict(p["views"]),
                "layer": dict(p.get("layer", {})),
            }
            for p in wl.passes
        ]
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "passes": spans}, fh, indent=1)
