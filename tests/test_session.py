"""The session factory's JVM-wide settings, checked in a fresh process.

Spark's whole-stage-codegen cache is one per JVM and is sized when it is
first used, so the tier-1 session (which may already have filled it)
cannot show whether a new session reuses its compiled classes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ~120 one-partition queries, each with its own literals and so its own
# generated classes: more than Spark's default 100-entry cache holds
_PROBE = """
import json
from biodiversity_data_ingestion_spark.session import CODEGEN_CACHE_ENTRIES, get_spark

spark = get_spark(app_name="codegen-reuse", shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")
metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
compiles = []
for _ in range(2):
    before = metric.getCount()
    for i in range(120):
        spark.range(0, 8, 1, 1).selectExpr(f"id * {i + 2} + {i} AS x").collect()
    compiles.append(metric.getCount() - before)
print(json.dumps({
    "compiles": compiles,
    "max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
    "want": str(CODEGEN_CACHE_ENTRIES),
}))
spark.stop()
"""


def test_second_round_of_queries_compiles_nothing():
    # a nightly session runs the same plans pass after pass; with a cache
    # smaller than the working set every pass recompiles (and re-JITs)
    # what the previous one evicted
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=_ROOT,
        env={**os.environ, "PYTHONPATH": os.pathsep.join(
            p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p
        )},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    first, second = res["compiles"]
    assert first > 0, res
    assert second == 0, res
    assert res["max_entries"] == res["want"]
