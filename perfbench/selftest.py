"""Self-test of the benchmark on tiny (sf0.001-sized) inputs.

Checks, from the root of a checkout:

1. the generator is deterministic: one seed gives byte-identical
   files, another seed gives different ones;
2. every workload prints every end-to-end metric (``--trace 0``) and
   every per-layer metric (``--trace 1``) by name with its unit, with
   ``correct`` true and exit code 0;
3. a corrupted expected digest makes the command report a wrong result
   and exit 1;
4. in a directory that holds only the benchmark (no engine), the
   command exits non-zero without printing a result.

    python3 perfbench/selftest.py

Takes about five minutes (seven fresh Spark driver processes).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from check import EXPECTED_FILE  # noqa: E402
from steps import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

SEED = 424242
WORK = os.path.join(".perfbench_work", "selftest")


def _run(args: list[str], cwd: str = ".") -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), *args]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if proc.returncode not in (0, 1):
        sys.stderr.write(proc.stderr[-2000:])
    return proc.returncode, result


def _expect(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def check_generator(failures: list[str]) -> None:
    dirs = [os.path.join(WORK, f"gen{i}") for i in range(3)]
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    gen.write("tiny", SEED, dirs[0])
    gen.write("tiny", SEED, dirs[1])
    gen.write("tiny", SEED + 1, dirs[2])
    a, b, c = (gen.digest(d) for d in dirs)
    _expect(a == b, "generator: same seed, byte-identical inputs", failures)
    _expect(a != c, "generator: another seed, other inputs", failures)
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def check_metrics(workload: str, trace: int, failures: list[str]) -> None:
    code, res = _run(["--workload", workload, "--seed", str(SEED), "--seconds", "1",
                      "--trace", str(trace), "--profile", "tiny"])
    want = dict(PER_LAYER if trace else END_TO_END)
    ok = (
        code == 0
        and res is not None
        and set(res) == {"correct", "attempted", "failed", "metrics"}
        and res["correct"] is True
        and res["failed"] == 0
        and res["attempted"] >= 1
        and {k: v.get("unit") for k, v in res["metrics"].items()} == want
        and all(isinstance(v.get("value"), (int, float)) for v in res["metrics"].values())
    )
    _expect(ok, f"{workload} --trace {trace}: every metric printed with its unit, outputs correct",
            failures)


def check_corrupt_digest(failures: list[str]) -> None:
    workload = "media_decode"
    args = ["--workload", workload, "--seed", str(SEED), "--seconds", "1", "--profile", "tiny"]
    sf_dir = gen.ensure("tiny", SEED, os.path.join(".perfbench_work", "inputs"))
    expected = os.path.join(sf_dir, EXPECTED_FILE)
    if not os.path.exists(expected):
        _run(args)
    with open(expected) as fh:
        recorded = json.load(fh)
    query = WORKLOADS[workload][0].query
    key = next(k for k in recorded if k.startswith(query + ":"))
    bad = dict(recorded)
    bad[key] = dict(bad[key], sha256="0" * 64)
    with open(expected, "w") as fh:
        json.dump(bad, fh)
    try:
        code, res = _run(args)
    finally:
        with open(expected, "w") as fh:
            json.dump(recorded, fh)
    _expect(code == 1 and res is not None and res["correct"] is False and res["failed"] > 0,
            "corrupted expected digest: wrong result reported, exit 1", failures)


def check_bare_directory(failures: list[str]) -> None:
    bare = os.path.abspath(os.path.join(WORK, "bare"))
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    if os.path.exists("BENCHMARK.json"):
        shutil.copy("BENCHMARK.json", bare)
    code, res = _run(["--workload", "graph_iterate", "--seed", "1", "--seconds", "1"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    _expect(code not in (0, None) and res is None,
            "benchmark-only directory: non-zero exit, no result", failures)


def main() -> int:
    os.makedirs(WORK, exist_ok=True)
    failures: list[str] = []
    check_generator(failures)
    check_bare_directory(failures)
    for workload in sorted(WORKLOADS):
        for trace in (0, 1):
            check_metrics(workload, trace, failures)
    check_corrupt_digest(failures)
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
