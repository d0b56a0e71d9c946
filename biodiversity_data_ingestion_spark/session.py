"""SparkSession factory.

Scale notes (100 TB target):
- AQE is on: runtime shuffle-partition coalescing, skew-join splitting
  and dynamic broadcast decisions replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces. On a real cluster set it ~2-3x total cores.
- Session timezone pinned to UTC so timestamp semantics are stable
  across engines (the DuckDB oracle compares naive UTC timestamps).
- Arrow enabled for the pandas-UDF kernels (geometry / embeddings).
- On a ``local`` master, Python workers fork from ``worker_daemon``,
  not ``pyspark.daemon``. Every task's ``importlib.invalidate_caches()``
  made each zip importer re-read pyspark.zip's central directory before
  any kernel code ran; an identity mapInPandas over 1,000 rows cost
  0.62-0.69 worker CPU-s per task with it and 0.30-0.41 without
  (CPython 3.11, 4-core host). The daemon re-reads only an archive that
  changed. It is part of this package, so the package's parent
  directory leads the workers' PYTHONPATH: the kernels and the daemon
  import from any working directory. On any other master neither is
  set and pyspark's own daemon runs: there the package usually reaches
  the executors through ``--py-files``, which pyspark puts on
  ``sys.path`` only per task, after the daemon has started, and a
  driver-side path means nothing on an executor.
- Spark keeps each compiled whole-stage-codegen class in one JVM-wide
  cache of ``spark.sql.codegen.cache.maxEntries`` entries (a static
  conf, default 100). The engine's working set is larger: one pass of
  perfbench's ``graph_iterate`` generates 122 distinct sources,
  ``ingest_nightly`` 108 and ``media_decode`` 4; the 64 ``bench.py``
  headline queries about 1,230; all 236 non-stream registry queries
  at sf0.001, in one session, 2,700. At 100 entries every steady pass
  recompiled what the previous one evicted (110-115 Janino compiles a
  ``graph_iterate`` pass, 86 an ``ingest_nightly`` pass), and each new
  class went back through the JIT from the interpreter up.
  ``CODEGEN_CACHE_ENTRIES`` holds the whole registry: steady passes
  compile nothing, and ``graph_iterate`` ``job_cpu_s`` fell 28 % (median
  of 10 fresh-process pairs, 4-core host). The price is JVM non-heap
  for the classes kept: 324 → 362 MB after a full registry sweep.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# whole-stage-codegen cache entries: above the 2,700 distinct generated
# sources of a full registry sweep in one session (module docstring)
CODEGEN_CACHE_ENTRIES = 4096

# the directory holding this package, which every Python worker imports
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python_worker_conf(master: str) -> dict[str, str]:
    """The conf that runs Python workers under ``worker_daemon``: set
    only on a local master, whose workers share the driver's files."""
    if not master.startswith("local"):
        return {}
    path = os.environ.get("PYTHONPATH")
    return {
        "spark.python.daemon.module": "biodiversity_data_ingestion_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": _PACKAGE_PARENT + (os.pathsep + path if path else ""),
    }


def get_spark(
    app_name: str = "biodiversity-data-ingestion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for batch analytics.

    Local test runs use ``local[$SPARK_GRAFT_CPUS]``; on a cluster the
    master comes from spark-submit and this factory only applies SQL conf.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS); read as long and
        # truncate to micros in the loaders (sources/tables.py, streaming/)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # runtime filters: a selective dim-side predicate becomes a bloom
        # filter pushed into the fact-side scan of shuffle joins — at
        # 100 TB this prunes most of the probe side before the exchange
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.optimizer.runtimeFilter.number.threshold", "10")
        # driver/local-mode memory headroom for the 32-thread test box
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in {**_python_worker_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
