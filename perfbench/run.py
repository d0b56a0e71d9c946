"""End-to-end benchmark of the nightly ETL engine.

One command runs one workload in one fresh driver process and prints,
as the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Run it from the root of a checkout:

    python3 perfbench/run.py --workload ingest_nightly --seed 1 --seconds 10 --trace 0

The process builds the seed's inputs (perfbench/gen.py, once per seed,
kept under .perfbench_work/), starts a SparkSession through the
engine's own session factory with its own JVM settings, then runs the
workload's steps (perfbench/steps.py) as a closed loop: a cold pass,
WARMUP_PASSES passes that JIT warm-up still speeds up and that are not
counted, then steady passes until ``--seconds`` have gone by and at
least MIN_PASSES steady passes have run. Every output of every pass,
and the state each sink leaves on disk, is checked against the
registry's DuckDB oracle on the same input files, outside the timed
region.

Pass costs are CPU seconds of the benchmark's process tree (driver,
JVM and its compiler threads, Python workers), not wall time: on a
shared 4-vCPU host the hypervisor's steal time moved the wall time of
the same pass by up to half, the CPU time by a fifth at most
(perfbench/RECORD.md has the figures). Wall times are reported by the
traced run.

``--trace 0`` reports setup_s (wall), cold_cpu_s (the cold pass) and
job_cpu_s (median of the steady passes). ``--trace 1`` interleaves
untraced and traced steady passes and reports the per-layer metrics
(perfbench/trace.py), the passes' wall times and the tracing overhead.
The command exits 1 when any output is wrong (after printing its
result) and 2, without a result, when it cannot run at all.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
from steps import COMPACTED, END_TO_END, INPUTS, PER_LAYER, WORKLOADS  # noqa: E402

ENGINE = "biodiversity_data_ingestion_spark"
WORKDIR = ".perfbench_work"
WARMUP_PASSES = 1  # passes after the cold one that JIT warm-up still speeds up; not counted
MIN_PASSES = 1  # steady passes after the warm-up ones; job_cpu_s is their median
MIN_TRACE_PASSES = 4  # untraced, traced, traced, untraced: see _traced
DEADLINE_S = 150  # stop starting passes past this many seconds of process time
KEEP_VERSIONS = 2  # versions write_versioned keeps (today + yesterday)
KEPT = "@kept"  # result key suffix: the backfill partition a pass must keep
_TICK = os.sysconf("SC_CLK_TCK")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input size profile; defaults to the workload's own (the self-test
    # runs every workload on the sf0.001-sized "tiny" profile)
    ap.add_argument("--profile", choices=sorted(gen.PROFILES))
    return ap.parse_args(argv)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its live descendants, each with the children it has reaped: the
    driver, its JVM and the JVM's Python workers."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited while we looked
            continue
        # fields after "pid (comm)", counted from state as 0: ppid is
        # 1; utime, stime, cutime, cstime are 11 to 14
        f = raw[raw.rindex(")") + 2:].split()
        stats[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children[pid])
    return total / _TICK


def steal_s() -> float:
    """Seconds the hypervisor has kept this machine's vCPUs from
    running, summed over vCPUs (/proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def _environment(root: str, tmp: str, cpus: int) -> None:
    """Everything the driver, the JVM and the Python workers read from
    the environment, pinned before the JVM starts: UTC wall clock (the
    canonical form of collected timestamps), scratch dirs inside the
    checkout, and the engine package on the workers' path so the
    mapInPandas kernels import from any working directory."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    if root not in sys.path:
        sys.path.insert(0, root)


def _start_session(tmp: str, cpus: int):
    from biodiversity_data_ingestion_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for the JVM
    (and with it the Python workers it forked) to exit. The JVM exits
    when its stdin pipe from this process closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Workload:
    """Runs passes of one workload and keeps, per pass, its CPU and
    wall time, the wall seconds charged to each metric and the digest
    of each step's output."""

    def __init__(self, spark, name: str, sf_dir: str, run_dir: str, tracer=None):
        from biodiversity_data_ingestion_spark.plans.queries import QUERIES

        self.spark = spark
        self.steps = WORKLOADS[name]
        self.sf_dir = sf_dir
        self.publish = os.path.join(run_dir, "published")
        self.builders = {s.name: QUERIES[s.query]["builder"] for s in self.steps}
        self.oracles = {s.query: QUERIES[s.query]["oracle"] for s in self.steps}
        self.tracer = tracer
        self.passes: list[dict] = []

    # -- one pass -----------------------------------------------------
    def run_pass(self, traced: bool) -> dict:
        idx = len(self.passes)
        rec = {"index": idx, "traced": traced, "spans": defaultdict(float),
               "views": defaultdict(float), "results": {}, "outputs": {}, "errors": {}}
        tr = self.tracer if traced else None
        if tr:
            tr.begin_pass(rec)
        cpu0, steal0, wall0 = tree_cpu_s(), steal_s(), time.perf_counter()
        for step in self.steps:
            self._step(step, idx, rec, tr)
        if any(s.sink != "collect" for s in self.steps):
            self._compact_and_read_back(idx, rec, tr)
        rec["wall_s"] = time.perf_counter() - wall0
        rec["cpu_s"] = tree_cpu_s() - cpu0
        rec["steal_s"] = steal_s() - steal0
        # digests are the check's work, not the pass's: taken after the
        # pass's CPU and wall time are read
        for name, (columns, rows) in rec.pop("results").items():
            rec["outputs"][name] = check.spark_digest(columns, rows)
        if tr:
            tr.end_pass(rec, self)
        self.passes.append(rec)
        return rec

    def _step(self, step, idx: int, rec: dict, tr) -> None:
        from biodiversity_data_ingestion_spark.sources import sinks

        label = f"p{idx}:{step.name}"
        if tr:
            tr.before_step()
        t0 = time.perf_counter()
        try:
            with _phase(tr, label + ":build", step):
                df = self.builders[step.name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            with _phase(tr, label + ":run", step):
                if step.sink == "collect":
                    rows = df.collect()
                elif step.sink == "versioned":
                    sinks.write_versioned(
                        df, self._path(step), step.name, version=f"v{idx:04d}",
                        keep_versions=KEEP_VERSIONS,
                    )
                elif step.sink == "index":
                    sinks.write_index_table(df, self._path(step), df.columns[0])
                elif step.sink == "backfill":
                    from pyspark.sql import functions as F

                    sinks.overwrite_partitions(
                        df.withColumn("load_day", F.lit(_day(idx))), self._path(step), ["load_day"]
                    )
            t2 = time.perf_counter()
        except Exception as e:  # counted as a failed step call
            rec["errors"][step.name] = f"{type(e).__name__}: {e}"[:400]
            rec["spans"][step.metric] += time.perf_counter() - t0
            return
        rec["spans"][step.metric] += t2 - t0
        if step.sink == "versioned":
            problem = self._versions_problem(step, idx)
            if problem:
                rec["errors"][step.name] = problem
        rec["views"]["plans.build_s"] += t1 - t0
        if step.sink == "collect":
            rec["results"][step.name] = (df.columns, rows)
            if tr:
                tr.rows(step, df.columns, rows)
        else:
            rec["views"]["sinks.write_s"] += t2 - t1
        if tr:
            tr.after_step(step)

    def _path(self, step) -> str:
        return os.path.join(self.publish, step.name)

    def _versions_problem(self, step, idx: int) -> str | None:
        """What is wrong with a versioned table's directory right after
        pass ``idx`` wrote it, or None: _CURRENT must name this pass's
        version, and the N-2 cleanup must leave exactly the newest
        KEEP_VERSIONS versions."""
        from biodiversity_data_ingestion_spark.sources import sinks

        base = self._path(step)
        want = [f"v{i:04d}_{step.name}" for i in range(max(0, idx + 1 - KEEP_VERSIONS), idx + 1)]
        have = sorted(d for d in os.listdir(base) if os.path.isdir(os.path.join(base, d)))
        with open(os.path.join(base, sinks.CURRENT_POINTER)) as fh:
            current = os.path.basename(json.load(fh)["path"].rstrip("/"))
        if have != want or current != want[-1]:
            return f"versioned: dirs {have}, _CURRENT {current}; want dirs {want}, _CURRENT {want[-1]}"
        return None

    def _read_back(self, step):
        from biodiversity_data_ingestion_spark.sources import sinks

        if step.sink == "versioned":
            return sinks.read_current(self.spark, self._path(step))
        return self.spark.read.parquet(self._path(step))

    def _compact_and_read_back(self, idx: int, rec: dict, tr) -> None:
        from biodiversity_data_ingestion_spark.sources import sinks

        live = {s.name for s in self.steps if s.sink != "collect"} - set(rec["errors"])
        t0 = time.perf_counter()
        if COMPACTED in live:
            rec["compactions"] = 1
            try:
                with _phase(tr, f"p{idx}:compact", None):
                    pointer = os.path.join(self.publish, COMPACTED, sinks.CURRENT_POINTER)
                    with open(pointer) as fh:
                        sinks.compact_files(self.spark, json.load(fh)["path"])
            except Exception as e:
                rec["errors"]["compact"] = f"{type(e).__name__}: {e}"[:400]
        rec["spans"]["sinks.compact_s"] += time.perf_counter() - t0
        for step in self.steps:
            if step.name not in live:
                continue
            t0 = time.perf_counter()
            try:
                with _phase(tr, f"p{idx}:{step.name}:readback", None):
                    df = self._read_back(step)
                    rows = df.collect()
            except Exception as e:
                rec["errors"][step.name] = f"readback {type(e).__name__}: {e}"[:400]
                continue
            finally:
                rec["spans"]["sinks.readback_s"] += time.perf_counter() - t0
            if step.sink != "backfill":
                rec["results"][step.name] = (df.columns, rows)
                continue
            # the whole backfilled table, split by partition: the one this
            # pass wrote and, from the second pass on, the one the pass
            # before wrote, which the dynamic overwrite must have kept
            at = df.columns.index("load_day")
            columns = df.columns[:at] + df.columns[at + 1:]
            parts = defaultdict(list)
            for r in rows:
                r = tuple(r)
                parts[r[at]].append(r[:at] + r[at + 1:])
            for day in sorted(parts):
                if day not in _days(idx):
                    rec["errors"][step.name] = f"backfill: unexpected partition load_day={day}"
            for day, key in zip(_days(idx), (step.name, step.name + KEPT)):
                rec["results"][key] = (columns, parts.get(day, []))

    # -- checks -------------------------------------------------------
    def check(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems) over every step call and
        compaction of every pass: a step call fails when it raised, when
        its output digest differs from its oracle's (for a published
        table, as read back after the compaction; for the backfilled
        table, in the partition the pass wrote and in the one it had to
        keep), or when a versioned write left the wrong versions or
        _CURRENT pointer; a compaction fails when it raised."""
        expected = check.expected_digests(self.sf_dir, gen.TABLES, self.oracles)
        attempted = failed = 0
        problems = []
        for rec in self.passes:
            for step in self.steps:
                attempted += 1
                want = expected[step.query]
                keys = [step.name]
                if step.sink == "backfill" and rec["index"] > 0:
                    keys.append(step.name + KEPT)
                if step.name in rec["errors"]:
                    failed += 1
                    problems.append(f"pass {rec['index']} {step.name}: {rec['errors'][step.name]}")
                    continue
                for key in keys:
                    got = rec["outputs"].get(key)
                    if got != want:
                        failed += 1
                        problems.append(f"pass {rec['index']} {key}: got {got}, oracle {want}")
                        break
            attempted += rec.get("compactions", 0)
            if "compact" in rec["errors"]:
                failed += 1
                problems.append(f"pass {rec['index']} compact: {rec['errors']['compact']}")
        return attempted, failed, problems


class _phase:
    """Job group around one engine call when the pass is traced."""

    def __init__(self, tracer, label: str, step):
        self.tracer, self.label, self.step = tracer, label, step

    def __enter__(self):
        if self.tracer:
            self.tracer.enter(self.label)

    def __exit__(self, *exc):
        if self.tracer:
            self.tracer.exit(self.label, self.step)
        return False


def _day(idx: int) -> str:
    # the backfill alternates between two partitions: from the third
    # pass on, each pass replaces one partition and must leave the other
    return f"d{idx % 2}"


def _days(idx: int) -> tuple[str, ...]:
    """The partitions the backfilled table holds after pass ``idx``:
    the one the pass wrote first, then the one it must have kept."""
    return (_day(idx),) if idx == 0 else (_day(idx), _day(idx - 1))


def _traced(idx: int, trace: int) -> bool:
    # the cold and warm-up passes are never traced; after them, passes
    # run in blocks of untraced, traced, traced, untraced, so whatever
    # warm-up trend is left falls equally on both sides of
    # trace.overhead_frac
    k = idx - 1 - WARMUP_PASSES  # index among the steady passes
    return bool(trace) and k >= 0 and k % 4 in (1, 2)


def steady(passes: list[dict]) -> list[dict]:
    """The passes that count: those after the cold and warm-up ones."""
    return passes[1 + WARMUP_PASSES:]


def job_seconds(passes: list[dict]) -> float:
    """Sum over the pass's metrics of each metric's median wall time
    across ``passes``: a stall in one step of one pass moves one sample
    of one median, not the figure."""
    keys = sorted({k for p in passes for k in p["spans"]})
    return sum(statistics.median(p["spans"].get(k, 0.0) for p in passes) for k in keys)


def _enough(passes: list[dict], trace: int) -> bool:
    return len(steady(passes)) >= (MIN_TRACE_PASSES if trace else MIN_PASSES)


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "session.py")):
        print(f"perfbench: no {ENGINE}/ package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    try:
        return _run(args, root)
    except Exception:  # the benchmark itself could not run: no result
        traceback.print_exc()
        print("perfbench: the run failed before a result", file=sys.stderr)
        return 2


def _run(args, root: str) -> int:
    work = os.path.join(root, WORKDIR)
    cpu, t = tree_cpu_s(), time.perf_counter()
    sf_dir = gen.ensure(args.profile or args.workload, args.seed, os.path.join(work, "inputs"))
    gen_s, gen_cpu_s = time.perf_counter() - t, tree_cpu_s() - cpu

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = max(1, min(4, len(os.sched_getaffinity(0))))
    _environment(root, tmp, cpus)
    spark = None
    try:
        spark = _start_session(tmp, cpus)
        session_s = time.perf_counter() - T0 - gen_s
        warm = spark.range(0, 1 << 16, 1, cpus).selectExpr("sum(id) AS s").collect()
        if warm[0]["s"] != (1 << 16) * ((1 << 16) - 1) // 2:
            raise RuntimeError("warm-up job returned a wrong sum")
        from biodiversity_data_ingestion_spark.sources.tables import load_table

        for t_name in INPUTS[args.workload]:
            load_table(spark, sf_dir, t_name).schema
        setup_s = time.perf_counter() - T0 - gen_s
        setup_cpu_s = tree_cpu_s() - gen_cpu_s

        tracer = None
        if args.trace:
            import trace

            tracer = trace.Tracer(spark, args.workload, cpus)
        wl = Workload(spark, args.workload, sf_dir, run_dir, tracer)
        t_start = time.perf_counter()
        while True:
            wl.run_pass(_traced(len(wl.passes), args.trace))
            now = time.perf_counter()
            if now - t_start >= args.seconds and _enough(wl.passes, args.trace):
                break
            if now - T0 + wl.passes[-1]["wall_s"] > DEADLINE_S:
                raise RuntimeError(f"deadline reached after {len(wl.passes)} passes")

        measured_s = time.perf_counter() - t_start
        t = time.perf_counter()
        attempted, failed, problems = wl.check()
        walls = " ".join(f"{p['wall_s']:.2f}" for p in wl.passes)
        cpus_s = " ".join(f"{p['cpu_s']:.2f}" for p in wl.passes)
        steals = " ".join(f"{p['steal_s']:.1f}" for p in wl.passes)
        print(f"perfbench: inputs {gen_s:.1f} s, session {session_s:.1f} s, "
              f"setup {setup_s:.1f} s ({setup_cpu_s:.1f} cpu-s), passes wall [{walls}] "
              f"cpu [{cpus_s}] steal [{steals}] in {measured_s:.1f} s, "
              f"checks {time.perf_counter() - t:.1f} s", file=sys.stderr)
        for line in problems[:20]:
            print("perfbench: WRONG " + line, file=sys.stderr)

        post = steady(wl.passes)
        if args.trace:
            values = tracer.report(
                wl, post, {"session.start_s": session_s, "session.setup_cpu_s": setup_cpu_s},
                job_seconds,
            )
            units = dict(PER_LAYER)
            tracer.write_spans(os.path.join(work, f"trace-{args.workload}-seed{args.seed}.json"), wl)
        else:
            values = {
                "setup_s": setup_s,
                "cold_cpu_s": wl.passes[0]["cpu_s"],
                "job_cpu_s": statistics.median(p["cpu_s"] for p in post),
            }
            units = dict(END_TO_END)
        metrics = {k: {"value": round(float(values[k]), 6), "unit": units[k]} for k in units}
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
