"""Sources/sinks unit tests (SURVEY §2.1 rows S2/S7/S8/S10 + alias swap)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from biodiversity_data_ingestion_spark.sources import sinks
from biodiversity_data_ingestion_spark.sources.jsonl import read_species_files


def test_species_filename_capture(spark, tmp_path):
    # S2: per-species JSONL files, species from filename
    for sp, vals in [("Apis_mellifera", [1, 2]), ("Canis_lupus", [3])]:
        with open(tmp_path / f"occ_{sp}.jsonl", "w") as fh:
            for v in vals:
                fh.write(json.dumps({"occurrence_id": v, "lat": 1.0}) + "\n")
    df = read_species_files(spark, str(tmp_path / "occ_*.jsonl"))
    got = {(r["occurrence_id"], r["species"]) for r in df.collect()}
    assert got == {(1, "Apis mellifera"), (2, "Apis mellifera"), (3, "Canis lupus")}


def test_write_per_group_one_dir_per_species(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "species STRING, v INT"
    )
    out = str(tmp_path / "by_species")
    sinks.write_per_group(df, out, "species")
    dirs = {d for d in os.listdir(out) if d.startswith("species=")}
    assert dirs == {"species=a", "species=b"}
    back = spark.read.parquet(out)
    assert back.count() == 3


def test_write_index_table_last_writer_wins(spark, tmp_path):
    # S10: ES _id upsert => one row per id, latest _seq wins
    df = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2), (2, "only", 1)],
        "doc_id INT, payload STRING, _seq INT",
    )
    out = str(tmp_path / "index")
    sinks.write_index_table(df, out, "doc_id")
    got = {(r["doc_id"], r["payload"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "new"), (2, "only")}

    # NULL-id docs have no identity to collide on: ALL survive (ES
    # auto-generates _id for id-less bulk ops; the window dedup alone
    # would silently collapse them to one arbitrary row)
    with_null = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2), (None, "a", 1), (None, "b", 2)],
        "doc_id INT, payload STRING, _seq INT",
    )
    out2 = str(tmp_path / "index2")
    sinks.write_index_table(with_null, out2, "doc_id")
    got2 = {(r["doc_id"], r["payload"]) for r in spark.read.parquet(out2).collect()}
    assert got2 == {(1, "new"), (None, "a"), (None, "b")}


def test_versioned_write_swap_and_cleanup(spark, tmp_path):
    base = str(tmp_path / "versions")
    df1 = spark.createDataFrame([(1,)], "v INT")
    df2 = spark.createDataFrame([(2,)], "v INT")
    df3 = spark.createDataFrame([(3,)], "v INT")
    sinks.write_versioned(df1, base, "idx", version="2026-01-01")
    sinks.write_versioned(df2, base, "idx", version="2026-01-02")
    sinks.write_versioned(df3, base, "idx", version="2026-01-03")
    # N-2 cleanup: oldest version deleted, pointer at newest
    left = sorted(d for d in os.listdir(base) if d.endswith("_idx"))
    assert left == ["2026-01-02_idx", "2026-01-03_idx"]
    assert [r["v"] for r in sinks.read_current(spark, base).collect()] == [3]


def test_jsonl_single_shard(spark, tmp_path):
    out = str(tmp_path / "single")
    sinks.write_jsonl_single(spark.createDataFrame([(1,), (2,)], "v INT"), out)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1  # num_shards=1 contract (S7)


def test_cleaning_pipeline_composition(spark):
    from biodiversity_data_ingestion_spark.plans.pipelines import (
        cleaning_pipeline_with_summary,
    )

    occ = spark.createDataFrame(
        [
            # (id, species, lat, lon, unc)
            (1, "a", 0.0, 0.0, 2000.0),     # zero coords -> drop
            (2, "a", 95.0, 10.0, 2000.0),   # out of range -> drop
            (3, "a", 10.0, 10.0, 999.0),    # uncertainty too low -> drop
            (4, "a", 10.0, 10.0, 2000.0),   # survives, dedup winner
            (5, "a", 10.0, 10.0, 3000.0),   # same coords, higher unc -> deduped
            (6, "a", 50.0, 50.0, 1000.0),   # near centroid -> drop
            (7, "b", -20.0, -20.0, 5000.0), # survives (inclusive hi bound)
        ],
        "occurrence_id INT, species STRING, lat DOUBLE, lon DOUBLE, uncertainty_m DOUBLE",
    )
    cents = spark.createDataFrame([(50.001, 50.001)], "c_lat DOUBLE, c_lon DOUBLE")
    cleaned, summary = cleaning_pipeline_with_summary(occ, cents)
    assert {r["occurrence_id"] for r in cleaned.collect()} == {4, 7}
    s = {r["species"]: (r["total_records"], r["retained_records"], r["percent_retained"])
         for r in summary.collect()}
    assert s == {"a": (6, 1, 16.67), "b": (1, 1, 100.0)}


def test_gtf_parse(spark, tmp_path):
    # P18: comment skip + tab split + col 1/3/9 projection
    gtf = tmp_path / "ann.gtf"
    gtf.write_text(
        "#!genome-build x\n"
        "ACC1\tsrc\tgene\t1\t100\t.\t+\t.\tgene_id \"g1\";\n"
        "ACC1\tsrc\texon\t1\t50\t.\t+\t.\tgene_id \"g1\"; exon 1;\n"
    )
    from biodiversity_data_ingestion_spark.sources.text import read_gtf

    got = {(r["accession"], r["record_type"], r["info"]) for r in read_gtf(spark, str(gtf)).collect()}
    assert got == {
        ("ACC1", "gene", 'gene_id "g1";'),
        ("ACC1", "exon", 'gene_id "g1"; exon 1;'),
    }


def test_gtf_ragged_lines_quarantine(spark, tmp_path):
    # the 100 TB corruption class for line formats: a download cut
    # mid-record leaves a < 9-column line. getItem(8) on it is NULL,
    # so an unfiltered projection would emit a partial
    # (accession, type, NULL) row — the self-inconsistent-row class.
    # Contract: good rows only from read_gtf; the dead-letter variant
    # captures the raw ragged lines (comments/blank lines are neither).
    gtf = tmp_path / "ragged.gtf"
    gtf.write_text(
        "#!genome-build x\n"
        "ACC1\tsrc\tgene\t1\t100\t.\t+\t.\tgene_id \"g1\";\n"
        "ACC2\tsrc\texon\t1\t50\n"  # cut mid-record: 5 columns
        "\n"
        "ACC3 no tabs at all\n"
    )
    from biodiversity_data_ingestion_spark.sources.text import (
        read_gtf,
        read_gtf_with_dead_letters,
    )

    good = read_gtf(spark, str(gtf)).collect()
    assert [(r["accession"], r["record_type"], r["info"]) for r in good] == [
        ("ACC1", "gene", 'gene_id "g1";')
    ]
    assert not any(r["info"] is None for r in good), "no partial rows"

    good2, dead = read_gtf_with_dead_letters(spark, str(gtf))
    assert good2.count() == 1
    assert sorted(r["raw_line"] for r in dead.collect()) == [
        "ACC2\tsrc\texon\t1\t50",
        "ACC3 no tabs at all",
    ]


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    # co-located join: two tables bucketed+sorted on the join key must
    # join with NO Exchange (and no sort-before-join) in the plan — the
    # pay-the-shuffle-once contract of write_bucketed_table
    # default warehouse dir (spark-warehouse/, gitignored); static conf
    # cannot be changed per-test, so clean up via DROP TABLE — plus the
    # bare locations a previously crashed run may have orphaned
    import shutil

    for t in ("b_orders", "b_lines"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    orders = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(100)], "okey INT, status STRING"
    )
    lines = spark.createDataFrame(
        [(i % 50, i) for i in range(200)], "okey INT, line INT"
    )
    sinks.write_bucketed_table(orders, "b_orders", ["okey"], num_buckets=4)
    sinks.write_bucketed_table(lines, "b_lines", ["okey"], num_buckets=4)
    # tiny test tables would be broadcast (which sidesteps bucketing);
    # disable auto-broadcast so the plan shows the big-big join shape
    # bucketing exists for
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(spark.table("b_lines"), "okey")
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        assert "Exchange" not in plan
        assert joined.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lines")


def test_resolve_chain_depths_and_cycles(spark):
    from biodiversity_data_ingestion_spark.operators.chains import resolve_chain

    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (10, 11), (11, 10)],  # chain 4->3->2->1 + a 2-cycle
        "child INT, parent INT",
    )
    got = {r["node"]: (r["root"], r["depth"]) for r in resolve_chain(edges, max_depth=6).collect()}
    assert got[2] == (1, 1)
    assert got[3] == (1, 2)
    assert got[4] == (1, 3)
    # cycle rows bottom out at max_depth (dead-letter candidates)
    assert got[10][1] == 6 and got[11][1] == 6


def test_cleaning_chain_end_to_end_through_disk(spark, tmp_path):
    # SURVEY §3.2 lifecycle through DISK stage directories, like the
    # reference's chained pipelines: per-species JSONL stage (S8) ->
    # S2 filename-capture scan -> cleaning chain -> parquet table (S9)
    # + single-shard summary JSONL (S7) -> versioned swap + read-back
    # of the "current" index (S11 alias analogue).
    import json
    import os

    from pyspark.sql import functions as F

    from biodiversity_data_ingestion_spark.plans.pipelines import (
        cleaning_pipeline_with_summary,
    )
    from biodiversity_data_ingestion_spark.sources.jsonl import read_species_files
    from biodiversity_data_ingestion_spark.sources import sinks

    stage = tmp_path / "stage"
    for sp, rows in {
        "genus_alpha": [
            {"occurrence_id": 1, "lat": 10.0, "lon": 10.0, "uncertainty_m": 2000.0},
            {"occurrence_id": 2, "lat": 10.0, "lon": 10.0, "uncertainty_m": 3000.0},
            {"occurrence_id": 3, "lat": 0.0, "lon": 0.0, "uncertainty_m": 2000.0},
        ],
        "genus_beta": [
            {"occurrence_id": 4, "lat": -20.0, "lon": -20.0, "uncertainty_m": 5000.0},
        ],
    }.items():
        os.makedirs(stage, exist_ok=True)
        with open(stage / f"occ_{sp}.jsonl", "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")

    occ = read_species_files(
        spark,
        str(stage / "occ_*.jsonl"),
        schema="occurrence_id LONG, lat DOUBLE, lon DOUBLE, uncertainty_m DOUBLE",
    )
    cents = spark.createDataFrame([(80.0, 80.0)], "c_lat DOUBLE, c_lon DOUBLE")
    cleaned, summary = cleaning_pipeline_with_summary(occ, cents)

    table_dir = tmp_path / "cleaned_table"
    sinks.append_table(cleaned, str(table_dir))
    sinks.write_jsonl_single(summary, str(tmp_path / "summary"))
    sinks.write_versioned(
        spark.read.parquet(str(table_dir)), str(tmp_path / "index"), "occ", "2026-01-01"
    )

    current = sinks.read_current(spark, str(tmp_path / "index"))
    got = {r["occurrence_id"]: r["species"] for r in current.collect()}
    # dedup kept min-uncertainty id=1; zero-coords id=3 dropped; beta kept
    assert got == {1: "genus alpha", 4: "genus beta"}
    summary_back = spark.read.json(str(tmp_path / "summary"))
    s = {r["species"]: r["percent_retained"] for r in summary_back.collect()}
    assert s == {"genus alpha": 33.33, "genus beta": 100.0}


def test_bucketed_point_lookup_prunes_buckets(spark):
    # an equality filter on the bucketing key must scan ONE bucket, not
    # the whole table — the plan advertises SelectedBucketsCount
    from biodiversity_data_ingestion_spark.sources import sinks

    df = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
    sinks.write_bucketed_table(df, "b_lookup", ["k"], num_buckets=8)
    try:
        # AQE's autoBucketedScan drops bucketed reading when it sees no
        # exchange to eliminate — for point lookups the win is bucket
        # PRUNING, so force the bucketed scan path
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        plan = (
            spark.table("b_lookup")
            .where(F.col("k") == 42)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SelectedBucketsCount: 1 out of 8" in plan
        assert spark.table("b_lookup").where(F.col("k") == 42).collect() == [
            (42, 84)
        ]
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.sql("DROP TABLE IF EXISTS b_lookup")


def test_compact_files_reduces_file_count_preserving_rows(spark, tmp_path):
    from biodiversity_data_ingestion_spark.sources import sinks

    path = str(tmp_path / "fragmented")
    df = spark.range(10_000).selectExpr("id", "id % 7 AS g")
    df.repartition(64).write.parquet(path)  # 64 tiny files
    import glob

    assert len(glob.glob(f"{path}/*.parquet")) == 64
    n = sinks.compact_files(spark, path, target_file_mb=128)
    assert n == 1  # tiny table -> one target-size file
    assert len(glob.glob(f"{path}/*.parquet")) == 1
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("id")).first()[0] == sum(range(10_000))


def test_schema_evolution_merge_read(spark, tmp_path):
    # appended batches may add columns over time; mergeSchema unifies
    # them at read with nulls for pre-evolution rows — the schema-
    # evolution contract an append-only lake layout needs
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id INT, name STRING").write.parquet(
        path, mode="overwrite"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id INT, name STRING, score DOUBLE"
    ).write.parquet(path, mode="append")
    back = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(back.columns) == {"id", "name", "score"}
    got = {(r.id, r.name, r.score) for r in back.collect()}
    assert got == {(1, "a", None), (2, "b", 9.5)}


def test_partitioned_write_prunes_partitions_on_read(spark, tmp_path):
    # hive-style partitionBy layout (S8) must turn an equality filter on
    # the partition column into scan-level partition pruning — the
    # PartitionFilters entry, not a post-scan Filter over all dirs
    path = str(tmp_path / "by_kind")
    df = spark.createDataFrame(
        [(i, ["x", "y", "z"][i % 3]) for i in range(300)], "id INT, kind STRING"
    )
    sinks.write_per_group(df, path, "kind")
    scan = spark.read.parquet(path).where(F.col("kind") == "y")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pruned = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "kind" in pruned  # the filter reached the partition layer
    assert scan.count() == 100


def test_normalize_event_ts_all_three_shapes(spark, tmp_path):
    # the r1 regression class: events.ts arrives as nanos-long, NTZ, or
    # TIMESTAMP depending on writer; all three must normalize to
    # TIMESTAMP with identical wall-clock values (session TZ is UTC)
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from biodiversity_data_ingestion_spark.sources.tables import normalize_event_ts

    micros = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z
    want = datetime.datetime(2023, 11, 14, 22, 13, 20)

    # nanos-long (TIMESTAMP(NANOS) under nanosAsLong)
    long_df = spark.createDataFrame([(micros * 1000,)], "ts LONG")
    got = normalize_event_ts(long_df).first()["ts"]
    assert got == want and dict(normalize_event_ts(long_df).dtypes)["ts"] == "timestamp"

    # TIMESTAMP_NTZ on disk (isAdjustedToUTC=false — the testdata shape)
    p = str(tmp_path / "ntz.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([micros], type=pa.timestamp("us"))}), p
    )
    ntz = spark.read.parquet(p)
    assert dict(ntz.dtypes)["ts"] == "timestamp_ntz"  # precondition
    norm = normalize_event_ts(ntz)
    assert dict(norm.dtypes)["ts"] == "timestamp"
    assert norm.first()["ts"] == want

    # already TIMESTAMP: passthrough
    ts_df = spark.createDataFrame([(want,)], "ts TIMESTAMP")
    out = normalize_event_ts(ts_df)
    assert dict(out.dtypes)["ts"] == "timestamp" and out.first()["ts"] == want


def test_jsonl_dead_letter_channel(spark, tmp_path):
    # P16 dead letters: corrupt JSONL lines route to the quarantine
    # branch with the raw line preserved; good rows parse normally —
    # both branches from ONE scan
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from biodiversity_data_ingestion_spark.sources.jsonl import (
        read_jsonl_with_dead_letters,
    )

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "{broken json!!\n"
        '{"id": 2, "name": "fine"}\n'
        '["not", "an", "object"]\n'
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    good, dead = read_jsonl_with_dead_letters(spark, str(p), schema)
    assert {(r.id, r.name) for r in good.collect()} == {(1, "ok"), (2, "fine")}
    dead_lines = {r.raw_line for r in dead.collect()}
    assert dead_lines == {"{broken json!!", '["not", "an", "object"]'}


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    # DPP: joining a hive-partitioned fact on its partition column with a
    # filtered dim must push a dynamicpruning subquery into the scan's
    # PartitionFilters — at 100 TB this is what turns a selective dim
    # predicate into skipped fact partitions instead of a full scan
    path = str(tmp_path / "orders_by_priority")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 2)], "prio STRING, rank INT"
    ).where("rank = 1")
    j = fact.join(dim, fact.o_orderpriority == dim.prio).groupBy("prio").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan
    assert j.collect()[0]["prio"] == "1-URGENT"


def test_overwrite_table_truncates(spark, tmp_path):
    # S9 WRITE_TRUNCATE semantics: the second write replaces, not appends
    path = str(tmp_path / "trunc")
    sinks.append_table(spark.range(10).toDF("id"), path)
    sinks.overwrite_table(spark.range(3).toDF("id"), path)
    back = spark.read.parquet(path)
    assert back.count() == 3
    assert {r.id for r in back.collect()} == {0, 1, 2}


def test_global_metrics_single_row_combine(spark):
    # A1: one-row global combine of named aggregate expressions
    from biodiversity_data_ingestion_spark.operators.aggregates import (
        global_metrics,
    )

    df = spark.createDataFrame([(1, 2.0), (3, 4.0), (5, 6.0)], "a INT, b DOUBLE")
    row = global_metrics(
        df, {"sum_a": F.sum("a"), "n": F.count(F.lit(1)), "max_b": F.max("b")}
    ).first()
    assert (row["sum_a"], row["n"], row["max_b"]) == (9, 3, 6.0)


def test_load_table_nanos_fallback_without_session_conf(spark, tmp_path):
    # a TIMESTAMP(NANOS) events file on a session WITHOUT nanosAsLong
    # (e.g. the driver's own session) must still load: read fails with
    # AnalysisException, load_table enables the legacy conf and retries
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from biodiversity_data_ingestion_spark.sources.tables import load_table

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        out = load_table(spark, str(tmp_path), "events")
        assert dict(out.dtypes)["ts"] == "timestamp"
        assert out.first()["ts"] == datetime.datetime(2023, 11, 14, 22, 13, 20)
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_observed_metrics_ride_the_cleaning_pass(spark):
    # Observation metrics must match the standalone counts WITHOUT any
    # additional scan: rows_in / null_coords tally on the input, rows_out
    # on the survivors, all read after one action on the result.
    from biodiversity_data_ingestion_spark.plans.pipelines import (
        clean_with_observed_metrics,
    )

    occ = spark.createDataFrame(
        [
            (1, "a", 0.0, 0.0, 2000.0),
            (2, "a", None, 10.0, 2000.0),   # null coord (also dropped)
            (3, "a", 10.0, 10.0, 999.0),
            (4, "a", 10.0, 10.0, 2000.0),
            (5, "a", 10.0, 10.0, 3000.0),
            (6, "b", -20.0, -20.0, 5000.0),
        ],
        "occurrence_id INT, species STRING, lat DOUBLE, lon DOUBLE, uncertainty_m DOUBLE",
    )
    cents = spark.createDataFrame([(50.0, 50.0)], "c_lat DOUBLE, c_lon DOUBLE")
    cleaned, obs = clean_with_observed_metrics(occ, cents)
    assert {r["occurrence_id"] for r in cleaned.collect()} == {4, 6}
    assert obs["in"].get == {"rows_in": 6, "null_coords": 1}
    assert obs["out"].get == {"rows_out": 2}


def test_warc_roundtrip_and_dead_letter(spark):
    from biodiversity_data_ingestion_spark.sources import warc

    df = spark.createDataFrame(
        [(1, "hello crawl world"), (2, ""), (3, "unicode é∂ text")],
        "doc_id long, text string",
    )
    payloads = warc.synth_warc_payload(df, "doc_id", "text")
    rows = {r["doc_id"]: r for r in warc.parse_warc_features(payloads, "doc_id").collect()}
    assert rows[1]["warc_type"] == "response"
    assert rows[1]["target_uri"] == "https://example.org/doc/1"
    assert rows[1]["content_length"] == len(b"hello crawl world")
    assert rows[1]["n_words"] == 3
    assert rows[2]["content_length"] == 0 and rows[2]["n_words"] == 0
    # unicode content length is BYTES, not chars
    assert rows[3]["content_length"] == len("unicode é∂ text".encode())
    # determinism: identical input -> identical gzip bytes (mtime=0)
    p1 = {r["doc_id"]: bytes(r["payload"]) for r in payloads.collect()}
    p2 = {r["doc_id"]: bytes(r["payload"])
          for r in warc.synth_warc_payload(df, "doc_id", "text").collect()}
    assert p1 == p2
    # malformed payloads -> dead-letter nulls: not gzip, gzip but not a
    # WARC version line, and a record whose end is not CRLFCRLF
    import gzip

    import pytest

    def gz(b):
        return bytearray(gzip.compress(b, mtime=0))

    head = b"WARC-Type: response\r\nContent-Length: 2\r\n\r\n"
    bad = spark.createDataFrame(
        [
            (9, bytearray(b"\x1f\x8bGARBAGE")),
            (10, gz(b"HTTP/1.1\r\n" + head + b"hi\r\n\r\n")),
            (11, gz(b"WARC/1.0\r\n" + head + b"hi--\r\n")),
        ],
        "doc_id long, payload binary",
    )
    rows = warc.parse_warc_features(bad, "doc_id", on_error="null").collect()
    assert len(rows) == 3
    assert all(r["warc_type"] is None and r["n_words"] is None for r in rows)
    with pytest.raises(ValueError, match="on_error"):
        warc.parse_warc_features(bad, "doc_id", on_error="Null")


def test_webdataset_shards_roundtrip_and_determinism(spark, tmp_path):
    # the training-loader export: every doc appears exactly once across
    # shards as adjacent {key}.txt/{key}.json members, every shard but
    # the last is exactly full, and a re-export is BYTE-identical
    # (sorted members, zeroed tar metadata) — content-addressable
    # shard caching depends on that.
    import hashlib
    import tarfile

    from biodiversity_data_ingestion_spark.sources.sinks import (
        write_webdataset_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_docs = docs.count()
    out1, out2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    manifest = write_webdataset_shards(
        docs, out1, "doc_id", "text", meta_cols=["lang", "source"],
        samples_per_shard=40,
    ).collect()
    assert sum(r.n_samples for r in manifest) == n_docs
    full = [r for r in manifest if r.shard < max(m.shard for m in manifest)]
    assert all(r.n_samples == 40 for r in full)

    seen = {}
    for r in sorted(manifest, key=lambda m: m.shard):
        with tarfile.open(r.path) as tar:
            members = tar.getmembers()
            names = [m.name for m in members]
            # adjacent sample members: txt immediately followed by json
            for i in range(0, len(names), 2):
                k_txt, k_json = names[i], names[i + 1]
                assert k_txt.endswith(".txt") and k_json.endswith(".json")
                assert k_txt[:-4] == k_json[:-5]
                seen[k_txt[:-4]] = len(
                    tar.extractfile(members[i]).read()
                )
    expected = {str(r.doc_id): len(r.text.encode()) for r in docs.collect()}
    assert seen == expected

    # byte-identical re-export
    write_webdataset_shards(
        docs, out2, "doc_id", "text", meta_cols=["lang", "source"],
        samples_per_shard=40,
    ).collect()
    for r in manifest:
        fname = r.path.split("/")[-1]
        h1 = hashlib.md5(open(r.path, "rb").read()).hexdigest()
        h2 = hashlib.md5(open(f"{out2}/{fname}", "rb").read()).hexdigest()
        assert h1 == h2

    # NULL-key samples are quarantined: a member has no name without a
    # key (they would all collide on "None.txt" within a shard, and the
    # old concat_ws rank hashed them all to the constant md5('wds'))
    import pyspark.sql.functions as F

    out3 = str(tmp_path / "w3")
    with_null = docs.select(
        F.when(F.col("doc_id") % 7 == 0, None)
        .otherwise(F.col("doc_id")).alias("doc_id"),
        "text",
    )
    n_keyed = with_null.where(F.col("doc_id").isNotNull()).count()
    m3 = write_webdataset_shards(
        with_null, out3, "doc_id", "text", samples_per_shard=40
    ).collect()
    assert sum(r.n_samples for r in m3) == n_keyed < n_docs
    for r in m3:
        with tarfile.open(r.path) as tar:
            assert all(not m.name.startswith("None.") for m in tar.getmembers())


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    # ORC is the second built-in columnar format: the sink writes it,
    # values roundtrip exactly, and predicate pushdown reaches the ORC
    # scan the same way it does for parquet (the scale contract:
    # filters prune stripes, not rows post-scan).
    from biodiversity_data_ingestion_spark.sources.sinks import overwrite_table

    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    path = str(tmp_path / "orders_orc")
    overwrite_table(src, path, fmt="orc")
    back = spark.read.orc(path)
    assert back.count() == src.count()
    a = sorted(map(tuple, src.select("o_orderkey", "o_totalprice").collect()))
    b = sorted(map(tuple, back.select("o_orderkey", "o_totalprice").collect()))
    assert a == b
    plan = (
        back.where(F.col("o_orderkey") == 1)
        .select("o_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,1)" in plan


def test_avro_unavailable_fails_cleanly(spark, tmp_path):
    # avro is an EXTERNAL module (not bundled here): the format string
    # must fail with Spark's data-source error, not something cryptic —
    # documents the env gate the same way the codec/protobuf gates do.
    import pytest

    from biodiversity_data_ingestion_spark.sources.sinks import overwrite_table

    df = spark.range(3)
    try:
        overwrite_table(df, str(tmp_path / "a"), fmt="avro")
    except Exception as e:
        assert "avro" in str(e).lower()
        return
    # if the module ever appears, the write must have actually worked
    assert spark.read.format("avro").load(str(tmp_path / "a")).count() == 3


def test_csv_dead_letter_channel(spark, tmp_path):
    # the CSV twin of the JSONL dead-letter scan: well-formed rows parse
    # against the schema, malformed lines (bad arity / uncastable ints)
    # land in the quarantine channel with their raw text.
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from biodiversity_data_ingestion_spark.sources.text import (
        read_csv_with_dead_letters,
    )

    p = tmp_path / "rows.csv"
    p.write_text(
        "id,name,qty\n"
        "1,alpha,10\n"
        "2,beta,notanumber\n"
        "3,gamma,7\n"
    )
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("name", StringType()),
            StructField("qty", IntegerType()),
        ]
    )
    good, dead = read_csv_with_dead_letters(spark, str(p), schema)
    assert {(r.id, r.name, r.qty) for r in good.collect()} == {
        (1, "alpha", 10),
        (3, "gamma", 7),
    }
    dead_rows = [r.raw_line for r in dead.collect()]
    assert len(dead_rows) == 1 and "notanumber" in dead_rows[0]


def test_evolving_schema_read_merges_and_backfills(spark, tmp_path):
    # two generations of the same table: gen2 adds a column. The merged
    # read must expose the superset schema with NULL backfill for gen1
    # rows, and keep every row.
    from biodiversity_data_ingestion_spark.sources.tables import (
        read_evolving_table,
    )

    g1, g2 = str(tmp_path / "gen1"), str(tmp_path / "gen2")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string").write.parquet(g1)
    spark.createDataFrame(
        [(3, "c", 9.5)], "id long, name string, score double"
    ).write.parquet(g2)
    merged = read_evolving_table(spark, [g1, g2])
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {(r.id, r.name, r.score) for r in merged.collect()}
    assert rows == {(1, "a", None), (2, "b", None), (3, "c", 9.5)}


def test_xml_dead_letter_channel(spark, tmp_path):
    # Spark 4 native XML with the PERMISSIVE quarantine discipline:
    # good rows parse (attribute -> _key, nested element -> struct),
    # a malformed record lands in the dead channel, the job survives
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from biodiversity_data_ingestion_spark.sources.text import (
        read_xml_with_dead_letters,
    )

    p = tmp_path / "rows.xml"
    p.write_text(
        "<rows>"
        '<nation key="1"><name>ALGERIA</name><geo><region>0</region></geo></nation>'
        '<nation key="9"><name>BAD</name><geo><region>NaNope</region></geo></nation>'
        '<nation key="2"><name>BRAZIL</name><geo><region>1</region></geo></nation>'
        "</rows>"
    )
    schema = StructType(
        [
            StructField("_key", LongType()),
            StructField("name", StringType()),
            StructField(
                "geo", StructType([StructField("region", LongType())])
            ),
        ]
    )
    good, dead = read_xml_with_dead_letters(spark, str(p), schema, "nation")
    rows = {r["_key"]: (r["name"], r["geo"]["region"]) for r in good.collect()}
    assert rows == {1: ("ALGERIA", 0), 2: ("BRAZIL", 1)}
    assert dead.count() == 1


def test_read_incremental_manifest_gate(spark, tmp_path):
    # file-level gate anti-join: first run reads everything, commit()
    # seals it, only NEW files are read next; an uncommitted run
    # replays (at-least-once), and an empty increment returns an empty
    # frame with the table schema
    import pyarrow as pa
    import pyarrow.parquet as pq

    from biodiversity_data_ingestion_spark.sources.tables import read_incremental

    d = tmp_path / "drops"
    d.mkdir()
    man = str(tmp_path / "manifest.json")

    def drop(name, ids):
        pq.write_table(pa.table({"id": ids}), str(d / name))

    drop("a.parquet", [1, 2])
    drop("b.parquet", [3])
    df, new, commit = read_incremental(spark, str(d), man)
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3]
    assert len(new) == 2
    # NOT committed yet: a rerun replays the same files
    df2, new2, _ = read_incremental(spark, str(d), man)
    assert len(new2) == 2
    commit()
    drop("c.parquet", [4, 5])
    df3, new3, commit3 = read_incremental(spark, str(d), man)
    assert sorted(r["id"] for r in df3.collect()) == [4, 5]
    assert [os.path.basename(f) for f in new3] == ["c.parquet"]
    commit3()
    df4, new4, _ = read_incremental(spark, str(d), man)
    assert new4 == [] and df4.count() == 0
    assert df4.schema == df3.schema


def test_observe_quality_piggybacks_metrics(spark):
    # Observation metrics must ride the SAME job as the action (no
    # second scan) and report row/null counters exactly
    from pyspark.sql import functions as F

    from biodiversity_data_ingestion_spark.sources.tables import (
        load_table,
        observe_quality,
    )

    df = load_table(spark, "/root/testdata/sf0.001", "customer").withColumn(
        "maybe", F.when(F.col("c_custkey") % 3 == 0, F.col("c_name"))
    )
    observed, obs = observe_quality(df, ["maybe", "c_name"])
    n = observed.count()
    got = obs.get
    assert got["n_rows"] == n
    assert got["null_c_name"] == 0
    expected_nulls = df.where(F.col("maybe").isNull()).count()
    assert got["null_maybe"] == expected_nulls


def test_paginated_datasource_roundtrip_and_commit(spark, tmp_path):
    # Python DataSource API connector: sliced paginated read equals the
    # direct scan, task count = slices, the writer publishes a manifest
    # naming exactly the committed parts
    import json

    from biodiversity_data_ingestion_spark.sources import paginated

    paginated.register(spark)
    src = "/root/testdata/sf0.001/customer.parquet"
    df = (
        spark.read.format("bdi_paginated")
        .option("path", src)
        .option("slices", "5")
        .option("page_size", "11")
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    ref = spark.read.parquet(src)
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, ref.collect()))

    out = str(tmp_path / "bulk")
    ref.limit(7).repartition(2).write.format("bdi_paginated").option(
        "path", out
    ).mode("append").save()
    man = json.load(open(os.path.join(out, "_MANIFEST.json")))
    parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    assert man["parts"] == parts and man["n_rows"] == 7
    n_lines = sum(len(open(os.path.join(out, p)).readlines()) for p in parts)
    assert n_lines == 7


def test_paginated_writer_serializes_timestamps(spark, tmp_path):
    # rows with timestamp columns must serialize (ISO text) instead of
    # failing the task with a JSON TypeError
    import json

    from biodiversity_data_ingestion_spark.sources import paginated
    from biodiversity_data_ingestion_spark.sources.tables import load_table

    paginated.register(spark)
    out = str(tmp_path / "ts_out")
    load_table(spark, "/root/testdata/sf0.001", "orders").limit(
        3
    ).coalesce(1).write.format("bdi_paginated").option("path", out).mode(
        "append"
    ).save()
    man = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert man["n_rows"] == 3
    line = json.loads(
        open(os.path.join(out, man["parts"][0])).readline()
    )
    assert "o_orderdate" in line  # serialized, not crashed


def test_overwrite_partitions_is_partition_scoped(spark, tmp_path):
    # the daily-backfill idempotency contract: re-writing ONE day under
    # dynamic partition overwrite replaces exactly that day's directory
    # and leaves the others byte-identical; the session default (static)
    # would have truncated the whole table — also assert the conf is
    # restored so the scoped write cannot leak session-wide semantics
    from pyspark.sql import functions as F

    from biodiversity_data_ingestion_spark.sources.sinks import (
        overwrite_partitions,
    )

    path = str(tmp_path / "daily")
    days = spark.createDataFrame(
        [(d, i, 10 * d + i) for d in (1, 2, 3) for i in range(4)],
        "day int, k int, v int",
    )
    overwrite_partitions(days, path, ["day"])

    fixed_day2 = spark.createDataFrame(
        [(2, 0, 999)], "day int, k int, v int"
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, "STATIC")
    overwrite_partitions(fixed_day2, path, ["day"])
    assert spark.conf.get(key, "STATIC") == before, "conf leaked"

    back = spark.read.parquet(path)
    got = {
        (r["day"], r["k"]): r["v"]
        for r in back.collect()
    }
    # days 1 and 3 intact (4 rows each), day 2 replaced by the 1-row fix
    assert sorted(d for d, _ in got) .count(1) == 4
    assert sorted(d for d, _ in got).count(3) == 4
    assert [(d, k) for d, k in got if d == 2] == [(2, 0)]
    assert got[(2, 0)] == 999
    assert got[(1, 2)] == 12 and got[(3, 3)] == 33
    # static overwrite on the same path WOULD truncate: prove the
    # distinction the helper exists for
    (
        fixed_day2.withColumn("v", F.lit(1))
        .write.mode("overwrite").partitionBy("day").parquet(path)
    )
    assert spark.read.parquet(path).select("day").distinct().count() == 1
