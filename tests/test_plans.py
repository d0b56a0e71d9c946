"""Physical-plan audits (SURVEY §4): the optimizations the engine claims
must actually appear in the executed plan — pushdown, pruning, broadcast,
codegen — so regressions in plan shape fail CI, not a 100 TB run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biodiversity_data_ingestion_spark.plans.queries import QUERIES

from .conftest import SF_DIR


def _plan(spark, name: str, mode: str = "formatted") -> str:
    """`formatted` for pushdown/ReadSchema checks; `simple` when COUNTING
    operator occurrences (formatted repeats each node in its detail
    section, double-counting)."""
    df = QUERIES[name]["builder"](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.fixture(scope="module")
def registry_plans(spark) -> dict[str, str]:
    """name -> executed plan text of every non-stream query at sf0.001,
    built once for the registry-wide sweeps (stream builders execute
    the stream; their result is a memory table)."""
    return {
        name: spec["builder"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        for name, spec in sorted(QUERIES.items())
        if not name.startswith("stream_")
    }


def test_q1_filter_pushdown_and_column_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the 9 referenced columns — never the full row
    read = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read and "l_discount" in read


def test_q6_pure_pushdown_no_join(spark):
    # TPC-H Q6 shape: every predicate reaches the scan; the only
    # exchange is the single-partition combine of the global aggregate
    plan = _plan(spark, "forecast_revenue_change")
    assert "PushedFilters" in plan
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    assert "Join" not in plan
    import re
    assert len(re.findall(r"Exchange (?:hash|range)partitioning", plan)) == 0


def test_dimension_joins_are_broadcast(spark):
    plan = _plan(spark, "revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at minimum
    # AQE pre-execution plans carry no codegen annotations; the key
    # property is that no dimension falls back to a sort-merge join
    assert "SortMergeJoin" not in plan


def test_cleaning_filters_reach_scan(spark):
    plan = _plan(spark, "lineitem_retention")
    assert "PushedFilters" in plan


def test_anti_join_is_hash_not_nested_loop(spark):
    # grid-blocked centroid filter must plan as an equi hash anti join;
    # a BroadcastNestedLoopJoin here means the quadratic path came back
    plan = _plan(spark, "occurrence_cleaning_pipeline")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_near_dup_plans_are_join_free_and_single_pass(spark):
    # bucket-list candidate generation: no self-join on buckets/blocks.
    # simhash is fully join-free; minhash keeps exactly ONE join (the
    # shingle-verification melt join, which must stay a shuffled hash
    # join — broadcasting a computed array relation builds the hashed
    # relation single-threaded and cannot scale).
    sim = _plan(spark, "simhash_near_dups", "simple")
    assert "Join" not in sim
    mh = _plan(spark, "minhash_lsh_dups", "simple")
    assert mh.count("ShuffledHashJoin") == 1
    assert "BroadcastHashJoin" not in mh and "SortMergeJoin" not in mh
    # the signature stage must run once: one md5-seeded transform per
    # hash group (4 groups for 16 components), not one per component
    # and not duplicated per join side
    assert mh.count("concat(0:") == 1 and mh.count("concat(3:") == 1


def test_simhash_pair_explosion_is_parallel(spark):
    # the <=1024-row blocked relation is CPU-quadratic to pair-explode;
    # an explicit round-robin repartition must keep it off AQE's
    # byte-based one-task coalescing
    plan = _plan(spark, "simhash_near_dups")
    assert "REPARTITION_BY_NUM" in plan


def test_salted_agg_equals_plain(spark):
    from biodiversity_data_ingestion_spark.functions.skew import salted_agg
    from biodiversity_data_ingestion_spark.sources.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    plain = {
        (r["l_returnflag"], r["n"], r["q_min"], r["q_max"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("q_min"),
            F.max("l_quantity").alias("q_max"),
        )
        .collect()
    }
    salted = {
        (r["l_returnflag"], r["n"], r["q_min"], r["q_max"])
        for r in salted_agg(
            li,
            ["l_returnflag"],
            {
                "n": ("count", F.lit(1)),
                "q_min": ("min", F.col("l_quantity")),
                "q_max": ("max", F.col("l_quantity")),
            },
        ).collect()
    }
    assert plain == salted


def test_global_topk_is_take_ordered_not_total_sort(spark):
    # orderBy+limit must compile to TakeOrderedAndProject (per-partition
    # heaps + driver merge of k rows), NOT a range-partitioned total sort
    from biodiversity_data_ingestion_spark.plans.queries import QUERIES

    df = QUERIES["global_topk_events"]["builder"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_tfidf_idf_join_is_broadcast(spark):
    # the per-term df relation is vocabulary-sized — it must broadcast,
    # never shuffle the full tf relation on term
    from biodiversity_data_ingestion_spark.plans.queries import QUERIES

    df = QUERIES["tfidf_top_terms"]["builder"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bm25_query_terms_and_stats_are_broadcast(spark):
    # the query-term relation (n_queries rows) and the corpus stats
    # (1 row) must broadcast so only MATCHED postings ever shuffle —
    # a hash exchange of the full tf relation on term would be the
    # 100 TB killer
    import re

    from biodiversity_data_ingestion_spark.plans.queries import QUERIES

    plan = (
        QUERIES["bm25_doc_retrieval"]["builder"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 1  # qt filter join
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats scalar
    assert "CartesianProduct" not in plan


def test_no_accidental_cartesian_or_row_python_udfs(registry_plans):
    # Engine-wide physical-plan sweep: no query may contain an accidental
    # cartesian product or a row-at-a-time Python UDF (BatchEvalPython).
    # Python kernels must be Arrow-batched (ArrowEvalPython / mapInPandas);
    # intentional tiny-side cross joins are broadcast nested-loop joins.
    offenders = []
    for name, plan in registry_plans.items():
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython"))
    assert not offenders, offenders


def test_outlier_stats_join_is_broadcast_not_window(spark):
    # z-score stats are a tiny per-type aggregate joined back broadcast;
    # a Window over event_type would shuffle the whole fact table onto a
    # skewed low-cardinality key
    from biodiversity_data_ingestion_spark.plans.queries import QUERIES

    df = QUERIES["event_value_outliers"]["builder"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_source_cap_is_single_shuffle(spark):
    # the per-source quota must cost exactly one hash exchange (the
    # window partitioning); no residual sort-merge or re-exchange
    from biodiversity_data_ingestion_spark.plans.queries import QUERIES

    df = QUERIES["source_capped_corpus"]["builder"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_equidepth_boundaries_join_is_broadcast(spark):
    # the single-row decile-boundary relation must broadcast; bucketing
    # then stays map-side ahead of the grouped aggregation
    from biodiversity_data_ingestion_spark.plans.queries import QUERIES

    df = QUERIES["price_equidepth_deciles"]["builder"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_salted_join_equals_plain(spark):
    # the salted join must be row-for-row identical to the plain join,
    # for inner and left joins alike
    from biodiversity_data_ingestion_spark.functions.skew import salted_join

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    pt = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), "p_name"
    )
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, li.join(pt, ["l_partkey"], how).collect())
        )
        salted = sorted(
            map(tuple, salted_join(li, pt, ["l_partkey"], how=how).collect())
        )
        assert plain == salted


def test_headline_plan_shuffle_budgets(spark):
    # lock in each headline query's shuffle structure: a future edit that
    # adds an exchange to a hot-path plan fails here before it costs a
    # cluster anything. Budgets are the MEASURED counts (hash + range +
    # single-partition exchanges, local[32] plans at sf0.001).
    import re

    from biodiversity_data_ingestion_spark.plans.queries import QUERIES

    budgets = {
        "q1_pricing_summary": 1,
        "revenue_by_nation": 2,
        "price_stats_by_flag": 1,
        "top3_orders_per_customer": 1,
        "dedup_min_by": 1,
        "event_window_agg": 2,
        "word_freq": 2,
        "ngram_jaccard_dups": 2,
        "minhash_lsh_dups": 4,
        "simhash_near_dups": 2,
        # 2 = the partial-top-k skew guard's (query, shard) pre-rank
        # exchange + the final per-query top-k exchange (which now sees
        # only n_shards x k rows per query instead of the whole corpus)
        "ann_cosine_topk": 2,
        "label_centroids": 1,
        "occurrence_cleaning_pipeline": 1,
        "user_sessions": 1,
        "multimodal_features": 0,
        # round-2 additions (measured like the rest)
        "embedding_cosine_dups": 2,
        "supplier_shipping_coverage": 1,  # one partitioning reused 3x
        "deep_nested_rollup": 4,
        "taxon_key_quirks": 0,  # broadcast dim only
        "nation_monthly_running_share": 2,
        "dedup_components": 0,  # localCheckpoint flattens lineage
        "tfidf_top_terms": 4,
        # round-3 additions (measured like the rest)
        "full_metadata_roundtrip": 4,  # 2 collect_list aggs + 2 join sides
        "hll_mergeable_rollup": 4,  # fine agg + union agg + exact branch
        # TPC-H plan-shape queries (measured like the rest)
        "order_count_distribution": 2,  # custkey rollup + count-of-counts
        "small_quantity_revenue": 2,  # per-part agg + co-partitioned back-join
        "promo_disjunctive_filter": 1,  # disjunction pushed to scan; part broadcast
        "sole_return_supplier": 3,  # order rollup + supplier rollup + dims
        "paragraph_dedup_reassembly": 2,  # span window + per-doc rollup
        "bpe_pair_merge": 2,  # vocab rollup + pair rollup (top-k is TakeOrdered)
        "bpe_train_vocab": 2,  # per-round checkpoints flatten the final plan
        "audio_decode_features": 0,  # synth+decode kernels, no shuffle
        "image_decode_features": 0,
        "video_decode_features": 0,
        "png_decode_features": 0,
        "doc_chunk_windows": 0,  # pure explode, no shuffle
        "near_dedup_keep_best": 3,  # pairs + CC feed a cluster window + agg
        "copurchase_triangles": 7,  # edges/deg checkpointed (was 46 without)
        # TPC-H Q2/Q4/Q11/Q15/Q16/Q20/Q22 shapes (measured like the rest)
        "min_cost_part_supplier": 1,  # one window-min pass; dims broadcast
        "priority_returned_orders": 1,  # semi join + grouped count
        "part_revenue_concentration": 2,  # per-part agg + tiny global window
        "top_revenue_supplier": 2,  # per-supplier agg + tiny global window
        "supplier_diversity_by_type": 2,  # anti join feeds distinct count
        "dominant_part_suppliers": 3,  # (part,supp) agg + window + semi
        "lapsed_rich_customers": 2,  # scalar stats + anti join + rollup
        "embedding_random_projection": 0,  # per-row fold, plan-literal matrix
        # TPC-H Q5/Q7/Q8/Q9/Q10/Q12/Q14 shapes: broadcast snowflakes,
        # one rollup exchange each (measured at sf0.001, AQE on)
        "gif_decode_features": 0,  # synth+decode kernels, no shuffle
        "jpeg_decode_features": 0,
        "regional_supplier_revenue": 1,
        "bilateral_shipping_volume": 1,
        "national_market_share": 1,
        "part_type_profit": 1,
        "returned_item_top_customers": 1,
        "priority_class_line_counts": 1,
        "promo_revenue_share": 1,
        # flagship curation: downstream of the checkpointed CC output the
        # whole pipeline is ONE agg exchange (feats scan + gated anti-join
        # + final groupBy); the pairs/CC stages run inside the checkpoint.
        # This is the round-5 floor lock: ~2.9 s quiet-box at sf0.1 =
        # pairs (~1.0, 64-bit hashed-shingle index) + CC rounds (~0.7) +
        # fused feats + agg (~0.7) + job overhead. Structure is final; a
        # future edit that adds an exchange or re-scans the corpus fails
        # here.
        "corpus_curation_pipeline": 1,
        # round-10 layout family (measured like the rest): the audit's
        # two global_row_number assignments checkpoint their stamped
        # frames (scans vanish from the final plan) and leave the
        # per-partition count/offset/rank exchanges + two file rollups
        # + the final per-layout rollup
        "layout_pruning_audit": 9,
        "file_compaction_bins": 2,  # file rollup + metadata-scale window
        # the daily rollup runs inside the checkpointed shared frame;
        # the visible plan is the broadcast pair join + final lag rollup
        "daily_revenue_acf": 1,
        # per-round LPA exchanges run inside the frontier checkpoints;
        # the returned plan is the flattened final frontier
        "copurchase_communities": 1,
    }
    over = {}
    for name, budget in budgets.items():
        p = (
            QUERIES[name]["builder"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n = len(re.findall(r"Exchange (?:hash|range)partitioning", p)) + len(
            re.findall(r"Exchange SinglePartition", p)
        )
        if n > budget:
            over[name] = (n, budget)
    assert not over, f"shuffle budget exceeded (got, budget): {over}"


def test_tokenized_corpus_materialization_feeds_consumers(spark, tmp_path):
    # tokenize-once staging: downstream word counts computed from the
    # materialized arrays equal counts computed from raw text
    from biodiversity_data_ingestion_spark.plans.pipelines import (
        materialize_tokenized_corpus,
    )
    from biodiversity_data_ingestion_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    mat = materialize_tokenized_corpus(docs, str(tmp_path / "toks"))
    from_mat = (
        mat.select(F.explode("toks").alias("w")).groupBy("w").count()
    )
    from_raw = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
        )
        .groupBy("w")
        .count()
    )
    assert {tuple(r) for r in from_mat.collect()} == {
        tuple(r) for r in from_raw.collect()
    }
    # and the token-count column is consistent with the arrays
    assert mat.where(F.size("toks") != F.col("n_toks")).count() == 0


def test_embedding_dups_blocked_no_nested_loop(spark):
    # the declared embedding near-dup query must run the sign-LSH
    # blocked path: hash joins on (band, key) / id only — the O(n^2)
    # BroadcastNestedLoopJoin theta join must never come back
    plan = _plan(spark, "embedding_cosine_dups")
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_scale_killer_joins_anywhere(registry_plans):
    # repo-wide scale audit: NO CartesianProduct in any of the declared
    # query plans, and BroadcastNestedLoopJoin only where the build side
    # is an intentionally-broadcast scalar/tiny aggregate (the audited
    # allowlist below). A new query that trips either fails here before
    # it ever meets a cluster.
    ALLOWED_BNLJ = {
        # broadcast query-vector / centroid sides of the ANN family
        "ann_cosine_topk", "ivf_topk_probe", "ivf_topk_exhaustive",
        "ivf_kmeans_topk", "kmeans_clusters",
        "embedding_quantization_error",
        # broadcast normalizing totals / thresholds (1-row aggregates)
        "mixture_temperature_weights", "nation_revenue_share",
        "price_equidepth_deciles", "doc_unigram_logprob", "term_pair_pmi",
        "key_skew_report", "epoch_shuffle_shards",
        # small-dimension name cross-match (bounded dims)
        "fuzzy_name_match",
        # pairwise self-join of the per-key SKETCH table (k rows, kB each)
        "theta_user_overlap",
        # 1-row aggregate crossJoins (node/edge/triangle counts folded
        # into the single output row)
        "copurchase_triangles",
        # TPC-H Q11/Q15/Q22 shapes: the global scalar (total revenue /
        # max revenue / avg positive balance) is a broadcast 1-row
        # aggregate cross join against the reused grouped frame
        "lapsed_rich_customers",
        # BPE trainer/apply: the per-round argmax is a broadcast 1-row
        # cross join carrying the chosen merge pair to every vocab word
        "bpe_train_vocab", "bpe_vocab_encoding",
        # BM25: the (n_docs, avgdl) corpus stats are a broadcast 1-row
        # cross join against the matched postings
        "bm25_doc_retrieval",
        # PQ/ADC: the 3-row query-id set and the kilobyte per-subspace
        # lookup tables are broadcast against the code table
        "pq_adc_topk",
        # Fellegi-Sunter: the 1-row u-probability frame cross-joins the
        # blocked pairs (pairs themselves are a BroadcastHashJoin on
        # the nation block key)
        "customer_record_linkage",
        # round-7: 1-row normalizing totals (vocab size / corpus totals
        # / n_docs / n_baskets) broadcast-crossed onto token or pair
        # streams — same shape as doc_unigram_logprob above
        "doc_bigram_logprob", "dsir_importance_weights",
        "nb_lang_confusion", "part_association_rules",
        # 16-row md5-ordered negative pool under a source-inequality
        # theta join: BNLJ against a bounded broadcast side BY DESIGN
        # (plan-locked in test_contrastive_pool_is_broadcast_and_linear)
        "contrastive_negatives",
        # Benford: the 1-row digit-count total broadcast-crossed onto
        # the 9-row digit table
        "orders_benford_deviation",
    }
    # measured ceilings for the two legitimately widest plans; anything
    # beyond these usually means a shared subplan is being re-executed
    # per consumer branch (fix: lazy localCheckpoint the shared frame —
    # this audit caught copurchase_triangles at 46 exchanges that way)
    MAX_EXCHANGES, MAX_SCANS = 16, 14  # fk_orphan_audit: 14/14 by design
    import re

    cartesian, surprise_bnlj, runaway = [], [], []
    for name, p in registry_plans.items():
        if "CartesianProduct" in p:
            cartesian.append(name)
        if "BroadcastNestedLoopJoin" in p and name not in ALLOWED_BNLJ:
            surprise_bnlj.append(name)
        n_ex = len(re.findall(r"Exchange (?:hash|range)partitioning", p)) + len(
            re.findall(r"Exchange SinglePartition", p)
        )
        n_scan = len(re.findall(r"FileScan parquet", p))
        if n_ex > MAX_EXCHANGES or n_scan > MAX_SCANS:
            runaway.append((name, n_ex, n_scan))
    assert not cartesian, f"CartesianProduct in: {cartesian}"
    assert not surprise_bnlj, (
        f"unaudited BroadcastNestedLoopJoin in: {surprise_bnlj} — "
        "broadcast a keyed/bounded side or add to the audited allowlist"
    )
    assert not runaway, (
        f"plan blow-up (name, exchanges, scans): {runaway} — a shared "
        "subplan is probably re-executing per branch; localCheckpoint it"
    )


def test_bm25_partial_topk_skew_guard_in_plan(spark):
    # the pre-rank window caps what the per-term ranking window sees at
    # n_shards x k rows per term (the hot-term 100 TB guard). Lock the
    # TWO-window shape — (term, _shard) pre-rank then per-term final —
    # and the _pre_rank <= k filter, so a refactor can't quietly drop
    # the guard and re-serialize a hot posting list into one task.
    plan = _plan(spark, "bm25_doc_retrieval", "simple")
    assert plan.count("Window [") == 2  # pre-rank + final (not GroupLimit)
    assert "windowspecdefinition(term" in plan and "_shard" in plan
    assert "_pre_rank" in plan
    # bonus guard Spark adds on TOP of ours: rank-limit pushdown must
    # stay applied to both windows (partial top-k before each sort)
    assert plan.count("WindowGroupLimit") == 4  # partial+final x 2 windows


def test_contrastive_pool_is_broadcast_and_linear(spark):
    # the 16-doc negative pool must broadcast (anchor side never
    # shuffles) and the theta-join on source inequality must be the
    # broadcast nested loop against 16 rows — NOT a cartesian of docs
    plan = _plan(spark, "contrastive_negatives", "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_dsir_weight_table_is_broadcast(spark):
    # the 256-bucket weight table must broadcast back onto the token
    # stream; a shuffle join keyed on bucket would re-exchange the
    # whole corpus for a 256-row lookup
    plan = _plan(spark, "dsir_importance_weights", "simple")
    assert "BroadcastHashJoin" in plan


def test_ks_drift_windows_are_partitioned(spark):
    # both cumsum windows must partition by the group key — an empty
    # partition spec would serialize the whole value set into one task
    plan = _plan(spark, "price_ks_drift", "simple")
    assert "windowspecdefinition(o_orderpriority" in plan
    assert "Exchange SinglePartition" not in plan


def test_nb_model_is_broadcast_and_argmax_partitioned(spark):
    # the |langs| x 256 weight table and the priors must broadcast onto
    # the token stream; the argmax window partitions by doc_id
    plan = _plan(spark, "nb_lang_confusion", "simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "windowspecdefinition(doc_id" in plan
    # (the plan's one SinglePartition exchange is the 1-row n_docs
    # global-aggregate combine feeding the priors broadcast — fine)
    assert "WindowGroupLimit" in plan  # argmax rank-limit pushdown


def test_association_rules_topk_is_take_ordered(spark):
    # top-20 by lift must be per-partition heaps + driver merge, never
    # a range-partitioned total sort of the pair stream
    plan = (
        QUERIES["part_association_rules"]["builder"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_attribution_windows_are_user_partitioned(spark):
    # session-id and first-touch windows must partition by user (and
    # user+session) — an empty partition spec would serialize the
    # whole event stream into one task
    plan = _plan(spark, "purchase_attribution", "simple")
    assert "windowspecdefinition(user_id" in plan
    assert "Exchange SinglePartition" not in plan


def test_zipf_and_infogain_rank_distributed(spark):
    # both top-k rankings go through global_row_number: the data-path
    # window must be partitioned by the range slice, never empty
    for q in ("doc_zipf_fit", "feature_info_gain"):
        plan = (
            QUERIES[q]["builder"](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "row_number() windowspecdefinition(_gpid" in plan, q
