"""The benchmark's workloads: which registry builders each one calls,
in which order, how each result is consumed, and which per-layer
metric the step's time is charged to.

A step is one call into the engine's public query builders
(``plans.queries.QUERIES[...]["builder"]``), followed by one action on
the returned frame. Graph and media steps hand their result straight
back to the caller (``collect``), as does the ingest SCD2 step; the
other ingest steps publish it through one of the ``sources.sinks``
writers and read it back at the end of the pass, so the check sees
what a downstream reader would see.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Step:
    name: str
    query: str  # registry name; its DuckDB oracle is the step's expected output
    metric: str  # per-layer metric the step's wall time is charged to
    sink: str = "collect"  # collect | versioned | index | backfill


# sinks used by ingest_nightly:
#   versioned — sinks.write_versioned: dated dir, _CURRENT swap, N-2 cleanup
#   index     — sinks.write_index_table: last-writer-wins index table
#   backfill  — sinks.overwrite_partitions: dynamic overwrite of ONE
#               partition of a table that holds two
WORKLOADS: dict[str, tuple[Step, ...]] = {
    "ingest_nightly": (
        Step("occurrences", "occurrence_cleaning_pipeline", "operators.cleaning_s", "versioned"),
        Step("specimens", "specimen_doc_projection", "operators.metadata_etl_s", "index"),
        Step("zones", "ecoregion_zones", "operators.geo_s", "backfill"),
        Step("sessions", "stream_user_sessions", "streaming.replay_s", "versioned"),
        Step("scd2", "user_value_scd2", "operators.temporal_s"),
    ),
    "graph_iterate": (
        Step("pagerank", "copurchase_pagerank", "corpus.pagerank_s"),
        Step("kmeans", "kmeans_clusters", "similarity.kmeans_s"),
    ),
    "media_decode": (
        Step("gif", "gif_decode_features", "multimodal.gif_s"),
        Step("jpeg444", "jpeg_color_decode_features", "multimodal.jpeg444_s"),
    ),
}

# input tables each workload's builders read (opened during set-up)
INPUTS = {
    "ingest_nightly": ("customer", "events", "lineitem", "orders", "supplier"),
    "graph_iterate": ("embeddings", "lineitem"),
    "media_decode": ("documents",),
}

# the ingest table that is compacted after it is written
COMPACTED = "occurrences"

END_TO_END = (
    ("setup_s", "s"),
    ("cold_cpu_s", "s"),
    ("job_cpu_s", "s"),
)

PER_LAYER = (
    ("wall.cold_job_s", "s"),
    ("wall.job_s", "s"),
    ("host.steal_frac", "fraction"),
    ("session.start_s", "s"),
    ("session.setup_cpu_s", "s"),
    ("plans.build_s", "s"),
    ("plans.eager_jobs", "count"),
    ("plans.eager_s", "s"),
    ("plans.jobs", "count"),
    ("plans.stages", "count"),
    ("plans.tasks", "count"),
    ("sources.input_mb", "MB"),
    ("sources.input_rows", "count"),
    ("sinks.write_s", "s"),
    ("sinks.output_mb", "MB"),
    ("sinks.output_files", "count"),
    ("sinks.compact_s", "s"),
    ("sinks.readback_s", "s"),
    ("streaming.replay_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.input_rows", "count"),
    ("streaming.state_rows", "count"),
    ("streaming.batch_ms", "ms"),
    ("operators.cleaning_s", "s"),
    ("operators.metadata_etl_s", "s"),
    ("operators.geo_s", "s"),
    ("operators.temporal_s", "s"),
    ("corpus.pagerank_s", "s"),
    ("corpus.jobs", "count"),
    ("corpus.shuffle_write_mb", "MB"),
    ("corpus.leaked_rdds", "count"),
    ("similarity.kmeans_s", "s"),
    ("similarity.jobs", "count"),
    ("multimodal.gif_s", "s"),
    ("multimodal.jpeg444_s", "s"),
    ("multimodal.rows_per_s", "1/s"),
    ("multimodal.reject_frac", "fraction"),
    ("exec.run_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.busy_frac", "fraction"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("exec.tasks_failed", "count"),
    ("jvm.peak_rss_mb", "MB"),
    ("trace.overhead_frac", "fraction"),
)
