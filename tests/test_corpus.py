"""Unit tests for corpus-construction and deterministic-sampling ops
(connected components, near-dedup retention, packing, inverted index,
hash sampling) beyond the oracle-parity gate."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from biodiversity_data_ingestion_spark.operators import corpus, sampling


def _edges(spark, pairs):
    return spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in pairs], "doc_a long, doc_b long"
    )


def test_connected_components_chain_and_islands(spark):
    # a 5-node path (needs >1 propagation round), a 2-cycle-free triangle,
    # and an isolated pair — labels must be the min id of each component
    pairs = [(10, 11), (11, 12), (12, 13), (13, 14), (1, 2), (2, 3), (1, 3), (7, 8)]
    got = {
        r["node"]: r["component"]
        for r in corpus.connected_components(_edges(spark, pairs)).collect()
    }
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
        1: 1, 2: 1, 3: 1,
        7: 7, 8: 7,
    }


def test_connected_components_empty_graph(spark):
    cc = corpus.connected_components(_edges(spark, []))
    assert cc.count() == 0


def test_near_dedup_retained_keeps_canonical_and_untouched(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"t{i}") for i in range(1, 7)], "doc_id long, text string"
    )
    pairs = _edges(spark, [(2, 3), (5, 6)])
    kept = sorted(
        r["doc_id"]
        for r in corpus.near_dedup_retained(docs, pairs, "doc_id").collect()
    )
    # 3 and 6 are non-canonical members of their clusters; 1 and 4 untouched
    assert kept == [1, 2, 4, 5]


def test_gated_anti_join_broadcast_only_when_small(spark):
    # The 100 TB guard: a drop list over the row ceiling must NOT carry
    # a broadcast hint (plain shuffle left_anti, AQE strategizes); under
    # the ceiling the hint is applied. Results identical either way.
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"t{i}") for i in range(1, 7)], "doc_id long, text string"
    )
    drop = spark.createDataFrame([Row(doc_id=3), Row(doc_id=6)], "doc_id long")
    hinted = corpus.gated_anti_join(docs, drop, "doc_id", max_broadcast_rows=10)
    plain = corpus.gated_anti_join(docs, drop, "doc_id", max_broadcast_rows=1)
    hinted_plan = hinted._jdf.queryExecution().analyzed().toString()
    plain_plan = plain._jdf.queryExecution().analyzed().toString()
    assert "broadcast" in hinted_plan.lower()
    assert "broadcast" not in plain_plan.lower()
    assert sorted(r["doc_id"] for r in hinted.collect()) == [1, 2, 4, 5]
    assert sorted(r["doc_id"] for r in plain.collect()) == [1, 2, 4, 5]


def test_near_dedup_retained_non_broadcast_path(spark):
    # same semantics through the gate's shuffle branch
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"t{i}") for i in range(1, 7)], "doc_id long, text string"
    )
    pairs = _edges(spark, [(2, 3), (5, 6)])
    kept = sorted(
        r["doc_id"]
        for r in corpus.near_dedup_retained(
            docs, pairs, "doc_id", max_broadcast_rows=0
        ).collect()
    )
    assert kept == [1, 2, 4, 5]


def test_pack_sequences_chunk_semantics(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="w " * 40) for i in range(1, 9)],
        "doc_id long, text string",
    )
    packed = corpus.pack_sequences(docs, "doc_id", "text", budget=100).collect()
    for r in packed:
        # a doc belongs to the chunk its start offset falls in
        assert r["chunk_id"] == (r["cum_tokens"] - r["n_toks"]) // 100
        assert r["n_toks"] == 40
    # cumsum is per-shard contiguous: max(cum) per shard == sum of its toks
    by_shard: dict[str, list] = {}
    for r in packed:
        by_shard.setdefault(r["shard"], []).append(r)
    for rows in by_shard.values():
        assert max(x["cum_tokens"] for x in rows) == sum(x["n_toks"] for x in rows)


def test_inverted_index_df_caps(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="hot rare1 shared"),
            Row(doc_id=2, text="hot shared shared"),  # dup token counted once
            Row(doc_id=3, text="hot rare2"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["term"]: (r["doc_freq"], r["postings"])
        for r in corpus.inverted_index(docs, "doc_id", "text", min_df=2, max_df=2).collect()
    }
    # 'hot' (df=3) capped out; singletons dropped; postings sorted+distinct
    assert out == {"shared": (2, "1,2")}


def test_hash_sampling_determinism_and_split_partition(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    s1 = set(r["k"] for r in sampling.deterministic_sample(df, "k", 0.3).collect())
    s2 = set(r["k"] for r in sampling.deterministic_sample(df, "k", 0.3).collect())
    assert s1 == s2  # reproducible
    assert 0.2 < len(s1) / 2000 < 0.4  # roughly the asked fraction
    # different seed draws an (almost surely) different sample
    s3 = set(r["k"] for r in sampling.deterministic_sample(df, "k", 0.3, seed="other").collect())
    assert s1 != s3

    split = sampling.train_test_split(df, "k", 0.25)
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts["test"] + counts["train"] == 2000  # exhaustive + disjoint
    # the test half IS the deterministic_sample of the same seed/fraction
    test_ids = set(r["k"] for r in split.where(F.col("split") == "test").collect())
    assert test_ids == set(
        r["k"] for r in sampling.deterministic_sample(df, "k", 0.25).collect()
    )


def test_stratified_sample_respects_per_stratum_fractions(spark):
    rows = [Row(k=i, grp="a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, grp string")
    out = sampling.stratified_hash_sample(
        df, "k", "grp", {"a": 1.0, "b": 0.2}, default_fraction=0.0
    )
    by = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert by["a"] == 1000  # fraction 1.0 keeps everything
    assert 100 < by["b"] < 300  # ~20% of 1000


def test_null_key_sampling_matches_sql_mirror(spark):
    # The engine-portability contract of hash sampling is that
    # `_selected` and `selection_sql` pick IDENTICAL rows — including
    # NULL keys. The bug this pins against: concat_ws SKIPS a NULL key,
    # so every NULL-keyed row hashed to the constant md5('<seed>') and
    # the whole NULL class was kept or dropped together by seed
    # accident, while the SQL mirror ('<seed>:' || NULL -> NULL) always
    # drops it. Contract now: NULL keys are never sampled, and splits
    # route them to 'train'.
    import duckdb

    rows = [(None, "a"), (None, "b")] + [(str(i), "c") for i in range(40)]
    df = spark.createDataFrame(rows, "k string, v string")
    for frac in (0.1, 0.5, 0.9):
        got = sorted(
            r["k"] for r in sampling.deterministic_sample(df, "k", frac).collect()
        )
        assert None not in got
        con = duckdb.connect()
        vals = ", ".join(
            f"({'NULL' if k is None else repr(k)})" for k, _ in rows
        )
        want = sorted(
            r[0] for r in con.execute(
                f"SELECT k FROM (VALUES {vals}) t(k) "
                f"WHERE {sampling.selection_sql('k', 's42', frac)}"
            ).fetchall()
        )
        assert got == want, (frac, got, want)

    split = {(r["k"], r["split"])
             for r in sampling.train_test_split(df, "k", 0.5).collect()
             if r["k"] is None}
    assert split == {(None, "train")}
    # fraction 1.0 short-circuits to TRUE on BOTH sides (no hash), so a
    # NULL key in a keep-everything stratum survives; any hashed
    # fraction drops it — mirrored by selection_sql's TRUE/FALSE paths
    strat = {r["v"] for r in sampling.stratified_hash_sample(
        df, "k", "v", {"a": 1.0, "b": 0.5, "c": 0.5}
    ).where(F.col("k").isNull()).collect()}
    assert strat == {"a"}


def test_sampling_predicate_is_shuffle_free(spark):
    df = spark.range(0, 100).withColumnRenamed("id", "k")
    plan = sampling.deterministic_sample(df, "k", 0.5)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_upsert_merge_semantics(spark):
    from pyspark.sql import Row

    from biodiversity_data_ingestion_spark.operators.joins import upsert_merge

    base = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")], "k long, v string"
    )
    updates = spark.createDataFrame(
        [
            Row(k=2, v="B", is_del=False),   # update wins
            Row(k=4, v="d", is_del=False),   # insert
            Row(k=3, v=None, is_del=True),   # delete
        ],
        "k long, v string, is_del boolean",
    )
    got = {r["k"]: r["v"] for r in upsert_merge(base, updates, "k", "is_del").collect()}
    assert got == {1: "a", 2: "B", 4: "d"}


def test_sketch_stats_error_bounds(spark):
    from biodiversity_data_ingestion_spark.operators.aggregates import (
        distribution_stats,
        sketch_distribution_stats,
    )
    from biodiversity_data_ingestion_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    exact = {
        r["event_type"]: r for r in distribution_stats(ev, ["event_type"], "value").collect()
    }
    exact_distinct = {
        r["event_type"]: r["nd"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("value").alias("nd")).collect()
    }
    approx = {
        r["event_type"]: r
        for r in sketch_distribution_stats(ev, ["event_type"], "value").collect()
    }
    for et, a in approx.items():
        e = exact[et]
        assert a["n"] == e["n"]
        assert a["mean"] == e["mean"]
        # GK sketch at accuracy 10000 on ~2k rows: rank error < 1 row;
        # allow a small value tolerance around the exact percentile
        for c in ("median", "p5", "p95"):
            assert abs(a[c] - e[c]) <= max(0.05 * abs(e[c]), 1.0), (et, c, a[c], e[c])
        # HLL++ rsd=0.01 -> 5 sigma tolerance
        assert abs(a["approx_distinct"] - exact_distinct[et]) <= 0.05 * exact_distinct[et]


def test_hash_samples_nest_monotonically(spark):
    # threshold sampling => sample(f1) is a subset of sample(f2) for
    # f1 <= f2 under the same seed (growing a sample never resamples)
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    small = set(r["k"] for r in sampling.deterministic_sample(df, "k", 0.1).collect())
    big = set(r["k"] for r in sampling.deterministic_sample(df, "k", 0.4).collect())
    assert small <= big


def test_kmeans_matches_numpy(spark):
    # independent integer re-implementation of the SAME fixed-point
    # trajectory (2^24 quantization, id-ordered init, truncating
    # centroid division) — the Spark clustering must reproduce it
    # EXACTLY; the bit-exactness is the whole point of fixed-point
    import numpy as np

    from biodiversity_data_ingestion_spark.operators.similarity import (
        KMEANS_SCALE,
        kmeans_lloyd,
    )
    from biodiversity_data_ingestion_spark.sources.tables import load_table

    k, n_iter = 8, 4
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    rows = sorted(
        ((r["vec_id"], np.array(r["embedding"], dtype=np.float64)) for r in emb.collect()),
        key=lambda t: t[0],
    )
    ids = [t[0] for t in rows]
    # round-half-away-from-zero quantization, exact int64 thereafter
    Xd = np.stack([t[1] for t in rows]) * KMEANS_SCALE
    X = (np.sign(Xd) * np.floor(np.abs(Xd) + 0.5)).astype(np.int64)
    cents = X[:k].copy()
    for _ in range(n_iter):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # argmin takes lowest index on ties
        cents = np.stack(
            [
                # truncating division (Spark div / DuckDB //), not floor
                (
                    np.sign(s := X[assign == c].sum(axis=0))
                    * (np.abs(s) // max((assign == c).sum(), 1))
                ).astype(np.int64)
                for c in range(k)
            ]
        )
    expected = {ids[i]: int(assign[i]) for i in range(len(ids))}

    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_lloyd(emb, "vec_id", "embedding", k=k, n_iter=n_iter).collect()
    }
    assert got == expected


def test_upsert_merge_idempotent(spark):
    from pyspark.sql import Row

    from biodiversity_data_ingestion_spark.operators.joins import upsert_merge

    base = spark.createDataFrame(
        [Row(k=i, v=f"v{i}") for i in range(20)], "k long, v string"
    )
    updates = spark.createDataFrame(
        [Row(k=i, v=f"U{i}", is_del=(i % 7 == 0)) for i in range(10, 30)],
        "k long, v string, is_del boolean",
    )
    once = upsert_merge(base, updates, "k", "is_del")
    twice = upsert_merge(once, updates, "k", "is_del")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_connected_components_ignores_duplicate_and_reversed_edges(spark):
    pairs = [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2)]
    got = {
        r["node"]: r["component"]
        for r in corpus.connected_components(_edges(spark, pairs)).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


def test_ivf_kmeans_recall(spark):
    # learned-partitioning ANN must recover most exact top-5 neighbors
    from biodiversity_data_ingestion_spark.plans.queries import QUERIES
    from biodiversity_data_ingestion_spark.operators.similarity import cosine_topk
    from biodiversity_data_ingestion_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    approx = QUERIES["ivf_kmeans_topk"]["builder"](spark, sf)
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.6, recall


def test_pointer_jump_converges_on_long_chain(spark):
    # a 200-node path graph has diameter 199: plain min-label propagation
    # cannot converge within 25 rounds, the pointer-doubling variant must
    # (O(log diameter)) — and land every node on component 0
    from biodiversity_data_ingestion_spark.operators.corpus import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "doc_a LONG, doc_b LONG"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(chain, max_iter=25, pointer_jump=True).collect()
    }
    assert got == {i: 0 for i in range(200)}


def test_pointer_jump_matches_plain_on_near_dup_graph(spark):
    # same fixpoint on the real (shallow) near-dup graph
    from biodiversity_data_ingestion_spark.operators import dedup
    from biodiversity_data_ingestion_spark.operators.corpus import (
        connected_components,
    )
    from biodiversity_data_ingestion_spark.sources.tables import load_table

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.7)
    plain = {tuple(r) for r in connected_components(pairs).collect()}
    jump = {tuple(r) for r in connected_components(pairs, pointer_jump=True).collect()}
    assert plain == jump

def test_hll_rollup_error_bounds(spark):
    from biodiversity_data_ingestion_spark.operators.aggregates import hll_rollup
    from biodiversity_data_ingestion_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events").withColumn(
        "day", F.to_date("ts")
    )
    rows = hll_rollup(ev, ["event_type", "day"], ["event_type"], "user_id").collect()
    assert rows
    n_days = {
        r["event_type"]: r["nd"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("day").alias("nd"))
        .collect()
    }
    for r in rows:
        # lgK=14 HLL: rse ~0.8%; allow 4 sigma on the merged estimate
        assert abs(r["est_distinct"] - r["exact_distinct"]) <= max(
            0.04 * r["exact_distinct"], 2.0
        ), (r["event_type"], r["est_distinct"], r["exact_distinct"])
        assert r["n_fine_groups"] == n_days[r["event_type"]]


def test_hll_union_matches_direct_sketch(spark):
    # merging fine-grain sketches must estimate like sketching the whole
    # (the associativity the persist-then-rollup pattern relies on)
    from biodiversity_data_ingestion_spark.operators.aggregates import hll_rollup

    df = spark.range(50_000).selectExpr(
        "CAST(id % 5 AS STRING) AS g", "id % 13 AS sub", "id % 9000 AS u"
    )
    rolled = {
        r["g"]: r["est_distinct"]
        for r in hll_rollup(df, ["g", "sub"], ["g"], "u").collect()
    }
    direct = {
        r["g"]: r["d"]
        for r in df.groupBy("g")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("u", F.lit(14))).alias("d"))
        .collect()
    }
    for g, est in rolled.items():
        assert abs(est - direct[g]) <= max(0.02 * direct[g], 2.0), (g, est, direct[g])


def test_theta_overlap_error_bounds(spark):
    from biodiversity_data_ingestion_spark.operators.aggregates import theta_set_overlap

    # groups with known exact overlap: g0 = 0..5999, g1 = 3000..8999,
    # g2 = 20000..19999+6000 (disjoint from both)
    df = spark.range(18_000).selectExpr(
        "CASE WHEN id < 6000 THEN 'g0' WHEN id < 12000 THEN 'g1' ELSE 'g2' END AS g",
        "CASE WHEN id < 6000 THEN id WHEN id < 12000 THEN id - 3000 ELSE id + 8000 END AS u",
    )
    got = {
        (r["key_a"], r["key_b"]): r
        for r in theta_set_overlap(df, "g", "u").collect()
    }
    exact = {
        ("g0", "g1"): (3000, 9000, 3000),   # overlap 3000..5999
        ("g0", "g2"): (0, 12000, 6000),
        ("g1", "g2"): (0, 12000, 6000),
    }
    for pair, (ei, eu, ed) in exact.items():
        r = got[pair]
        # theta default lgK: ~2-3% rse; allow 5% (+small absolute floor)
        for col, want in (
            ("est_intersection", ei), ("est_union", eu), ("est_difference", ed),
        ):
            assert abs(r[col] - want) <= max(0.05 * want, 30), (pair, col, r[col], want)


def test_kll_rollup_error_bounds(spark):
    from biodiversity_data_ingestion_spark.operators.aggregates import (
        kll_quantile_rollup,
    )

    # uniform 0..9999 split over 10 fine shards: true median 5000,
    # p95 9500; KLL default k: rank error ~1.7% => value error ~170
    df = spark.range(100_000).selectExpr(
        "CAST(id % 3 AS STRING) AS g", "CAST(id % 10 AS LONG) AS shard", "id % 10000 AS v"
    )
    rows = kll_quantile_rollup(df, ["g", "shard"], ["g"], "v").collect()
    assert len(rows) == 3
    for r in rows:
        assert r["n_fine_groups"] == 10
        assert abs(r["q_0_5"] - 5000) <= 300, r
        assert abs(r["q_0_95"] - 9500) <= 300, r


# ---------------------------------------------------------------------------
# round-3 sub-document / chunking invariants


def test_paragraph_dedup_keeps_each_distinct_span_exactly_once(spark):
    # the reassembly keeps the FIRST global occurrence of every span, so
    # the total kept-span count must equal the corpus's distinct-span
    # count (computed here independently of the window logic)
    from .conftest import SF_DIR
    from biodiversity_data_ingestion_spark.plans.queries import QUERIES
    from biodiversity_data_ingestion_spark.sources.tables import load_table

    out = QUERIES["paragraph_dedup_reassembly"]["builder"](spark, SF_DIR)
    total_kept = out.agg(F.sum("n_kept_spans")).first()[0]

    docs = load_table(spark, SF_DIR, "documents")
    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    k = F.greatest(F.ceil(F.size(words) / F.lit(10.0)).cast("int"), F.lit(1))
    spans = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.array_join(F.slice(words, (i - 1) * 10 + 1, 10), " "),
    )
    n_distinct = (
        docs.select(F.explode(spans).alias("span")).select("span").distinct().count()
    )
    assert total_kept == n_distinct
    # and no reassembled text can exceed its source length
    joined = out.join(docs.select("doc_id", "n_chars"), "doc_id")
    over = joined.where(F.length("text_kept") > F.col("n_chars") + 1).count()
    assert over == 0


def test_doc_chunk_windows_tile_each_document(spark):
    # stride-48/window-64 chunks must tile every doc: contiguous
    # indices, every chunk 1..64 tokens, and 48*(n_chunks-1) + last
    # chunk == n_words (exact coverage, no gap, no phantom chunk)
    from .conftest import SF_DIR
    from biodiversity_data_ingestion_spark.plans.queries import QUERIES
    from biodiversity_data_ingestion_spark.sources.tables import load_table

    out = QUERIES["doc_chunk_windows"]["builder"](spark, SF_DIR)
    bad_size = out.where(
        (F.col("chunk_tokens") < 1) | (F.col("chunk_tokens") > 64)
    ).count()
    assert bad_size == 0

    per_doc = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.max("chunk_idx").alias("max_idx"),
        F.min("chunk_idx").alias("min_idx"),
        F.max_by("chunk_tokens", "chunk_idx").alias("last_tokens"),
    )
    docs = load_table(spark, SF_DIR, "documents")
    n_words = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    joined = per_doc.join(docs.select("doc_id", n_words.alias("n_words")), "doc_id")
    violations = joined.where(
        (F.col("min_idx") != 0)
        | (F.col("max_idx") != F.col("n_chunks") - 1)
        | (48 * (F.col("n_chunks") - 1) + F.col("last_tokens") != F.col("n_words"))
    ).count()
    assert violations == 0
    assert per_doc.count() == docs.count()  # every doc produces chunks


def test_bpe_pair_merge_shape(spark):
    # deterministic top-20: descending counts, 2-char pairs only
    from .conftest import SF_DIR
    from biodiversity_data_ingestion_spark.plans.queries import QUERIES

    rows = QUERIES["bpe_pair_merge"]["builder"](spark, SF_DIR).collect()
    assert len(rows) == 20
    counts = [r.pair_count for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(len(r.pair) == 2 for r in rows)


def test_bpe_train_merges_matches_sequential_reference(spark):
    # the distributed trainer must replay the exact sequential BPE
    # algorithm: per round, count adjacent pairs weighted by word
    # frequency, take the (count desc, lexical) argmax, merge
    # left-to-right non-overlapping in every word.
    from collections import Counter

    from biodiversity_data_ingestion_spark.operators.corpus import (
        bpe_train_merges,
    )

    texts = [
        "the thin thing then",
        "that the then there",
        "aaa aab the",
        "x the thee",
    ]

    def reference(texts, n_rounds):
        words = Counter()
        for t in texts:
            for w in t.lower().split():
                words[w] += 1
        vocab = {tuple(w): c for w, c in words.items()}
        merges = []
        for rnd in range(1, n_rounds + 1):
            pc = Counter()
            for syms, c in vocab.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += c
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            merges.append((rnd, best[0], best[1], pc[best]))
            new_vocab = {}
            for syms, c in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and (syms[i], syms[i + 1]) == best
                    ):
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
            vocab = new_vocab
        return merges

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = [
        (r["rnd"], r["sym_a"], r["sym_b"], r["pair_count"])
        for r in bpe_train_merges(df, "text", n_rounds=4)
        .orderBy("rnd")
        .collect()
    ]
    assert got == reference(texts, 4)


def test_pagerank_empty_graph(spark):
    from biodiversity_data_ingestion_spark.operators.corpus import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    out = pagerank(empty, n_iter=3)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_leakage_safe_split_keeps_clusters_together(spark):
    # the whole point of cluster-granular splits: every member of a
    # near-dup component must land in the SAME split, and the md5
    # bucketing must route components to more than one split overall
    from pyspark.sql import functions as F

    from biodiversity_data_ingestion_spark.operators import dedup as dd

    # 30 clusters of 3 near-identical docs each; every word carries the
    # cluster id so clusters share NO shingles and cannot merge
    rows = []
    for c in range(30):
        base = " ".join(f"w{c}x{i}" for i in range(10))
        for m in range(3):
            rows.append((c * 10 + m, base + f" tail{m}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    cc = corpus.connected_components(pairs, dedup_edges=False)
    assign = docs.join(cc, docs["doc_id"] == cc["node"], "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("comp"),
    )
    bkt = (
        F.conv(F.substring(F.md5(F.col("comp").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 10
    )
    out = assign.withColumn("split", F.when(bkt < 8, "train").when(bkt == 8, "val").otherwise("test"))
    # every true cluster (doc_id // 10) maps to exactly one split
    spans = (
        out.withColumn("true_cluster", (F.col("doc_id") / 10).cast("long"))
        .groupBy("true_cluster")
        .agg(F.countDistinct("split").alias("n_splits"))
        .where(F.col("n_splits") > 1)
        .count()
    )
    assert spans == 0
    assert out.select("split").distinct().count() >= 2


def test_bpe_exhausted_merges_keeps_vocab(spark):
    # when every word is down to one symbol there is no mergeable pair;
    # the trainer must emit no further merge rows AND keep the vocab
    # intact (the old crossJoin-against-empty-best shape annihilated it)
    from biodiversity_data_ingestion_spark.operators.corpus import (
        bpe_encode_vocab,
        bpe_train_merges,
    )

    df = spark.createDataFrame(
        [(1, "ab ab cd"), (2, "ab cd")], "doc_id long, text string"
    )
    # round 1 merges a+b, round 2 merges c+d, rounds 3-4 have nothing
    merges = bpe_train_merges(df, "text", n_rounds=4).collect()
    assert sorted((r["rnd"], r["sym_a"], r["sym_b"]) for r in merges) == [
        (1, "a", "b"),
        (2, "c", "d"),
    ]
    enc = {
        r["word"]: (r["n_bpe_tokens"], r["encoded"])
        for r in bpe_encode_vocab(df, "text", n_rounds=4).collect()
    }
    assert enc == {"ab": (1, "ab"), "cd": (1, "cd")}


def test_pagerank_matches_fixed_point_reference(spark):
    # the fixed-point trajectory must match a sequential Python-int
    # replay EXACTLY (that's the whole point: bit-exact in any engine)
    from biodiversity_data_ingestion_spark.operators.corpus import (
        PAGERANK_SCALE,
        pagerank,
    )

    # directed graph with a dangling node (4) and a hub (0)
    E = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 0), (3, 2), (2, 4)]
    df = spark.createDataFrame(E, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=8).collect()}

    nodes = sorted({u for e in E for u in e})
    n = len(nodes)
    out = {u: 0 for u in nodes}
    for s, _ in E:
        out[s] += 1
    S = PAGERANK_SCALE
    num, den = 17, 20
    r = {u: S // n for u in nodes}
    for _ in range(8):
        contrib = {u: 0 for u in nodes}
        for s, t in E:
            contrib[t] += r[s] // out[s]
        dangling = sum(r[u] for u in nodes if out[u] == 0)
        r = {
            u: ((den - num) * S) // (den * n)
            + (num * (contrib[u] + dangling // n)) // den
            for u in nodes
        }
    for u in nodes:
        assert got[u] == r[u] / S, (u, got[u], r[u] / S)
    # rank is a probability distribution up to bounded floor loss
    assert 1.0 - 1e-6 < sum(got.values()) <= 1.0
    # and the double trajectory it replaces is still approximated:
    # compare against a float reference to make sure the fixed-point
    # reformulation didn't change the algorithm, just its arithmetic
    rf = {u: 1.0 / n for u in nodes}
    for _ in range(8):
        cf = {u: 0.0 for u in nodes}
        for s, t in E:
            cf[t] += rf[s] / out[s]
        dm = sum(rf[u] for u in nodes if out[u] == 0)
        rf = {u: 0.15 / n + 0.85 * (cf[u] + dm / n) for u in nodes}
    for u in nodes:
        assert abs(got[u] - rf[u]) < 1e-9


def test_source_overlap_matrix_nonvacuous(spark, tmp_path):
    # The sf0.01 driver fixture has no cross-source exact-duplicate
    # texts, so the r4 driver-green row for source_overlap_matrix was
    # confirmed on empty output. This fixture PLANTS cross-source
    # duplicates so the fingerprint self-join is proven on non-empty
    # support, against the same DuckDB oracle the driver runs.
    import duckdb

    from biodiversity_data_ingestion_spark.plans.queries import QUERIES

    rows = [
        # "shared news wire" text appears in three sources
        (1, "breaking: shared wire story", "en", "cc", 27),
        (2, "breaking: shared wire story", "en", "news", 27),
        (3, "breaking: shared wire story", "en", "blogs", 27),
        # a second text shared by two sources (one of them twice —
        # countDistinct must not double-count the repeated fingerprint)
        (4, "boilerplate footer", "en", "cc", 18),
        (5, "boilerplate footer", "en", "forums", 18),
        (6, "boilerplate footer", "en", "forums", 18),
        # unique texts that must produce no pairs
        (7, "only in cc", "en", "cc", 10),
        (8, "only in news", "en", "news", 12),
    ]
    fixture = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    fixture.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    spec = QUERIES["source_overlap_matrix"]
    got = {
        (r.src_a, r.src_b): r.shared_texts
        for r in spec["builder"](spark, str(tmp_path)).collect()
    }
    assert got, "overlap matrix must be non-empty on this fixture"
    assert got == {
        ("blogs", "cc"): 1,
        ("blogs", "news"): 1,
        ("cc", "news"): 1,
        ("cc", "forums"): 1,
        # the r12 in-query plant (non-vacuity at the driver SF): three
        # literal sources sharing two literal texts, appended by the
        # builder AND the oracle identically
        ("zz_planted_a", "zz_planted_b"): 1,
        ("zz_planted_a", "zz_planted_c"): 2,
        ("zz_planted_b", "zz_planted_c"): 1,
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'"
    )
    oracle = {
        (a, b): n for a, b, n in con.execute(spec["oracle"]).fetchall()
    }
    assert oracle == got

    # the PRODUCTION entry point (default _plant_probe=False) must
    # return a faithful provenance analysis: the real cross-source
    # pairs from the fixture and NOTHING fabricated (ADVICE r12: the
    # plant is harness-only, gated behind the flag)
    from biodiversity_data_ingestion_spark.plans.queries import (
        _source_overlap_matrix,
    )

    prod = {
        (r.src_a, r.src_b): r.shared_texts
        for r in _source_overlap_matrix(spark, str(tmp_path)).collect()
    }
    assert prod == {
        ("blogs", "cc"): 1,
        ("blogs", "news"): 1,
        ("cc", "news"): 1,
        ("cc", "forums"): 1,
    }
    assert not any(
        s.startswith("zz_planted") for pair in prod for s in pair
    ), "production output must carry no planted sources"


def test_k_core_peels_cascade(spark):
    # classic cascade: a triangle core (1,2,3 all degree >= 2 forever)
    # with a pendant chain 3-4-5. Round 1 peels 5 (deg 1), which drops
    # 4 to deg 1; round 2 peels 4 — the iterative part is the point
    # (a single degree filter would keep 4).
    from biodiversity_data_ingestion_spark.operators.corpus import k_core

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], "u long, v long"
    )
    got = {(r.node, r.degree) for r in k_core(edges, k=2).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_k_core_empty_and_overpeel(spark):
    from biodiversity_data_ingestion_spark.operators.corpus import k_core

    empty = spark.createDataFrame([], "u long, v long")
    assert k_core(empty, k=2).count() == 0
    # k above the max degree peels everything
    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    assert k_core(edges, k=3).count() == 0


def test_k_core_nonconvergence_warns_and_strict_raises(spark):
    # max_rounds deliberately too small: a long path peels one layer
    # per round under k=2, so max_rounds=1 cannot confirm stability —
    # the superset result must warn (and raise under strict=True)
    import warnings as _w

    import pytest

    from biodiversity_data_ingestion_spark.operators.corpus import k_core

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "u long, v long"
    )  # path 1-2-3-4-5-6: 2-core is empty but needs >1 peel round
    with pytest.warns(UserWarning, match="did not confirm convergence"):
        k_core(edges, k=2, max_rounds=1).count()
    with pytest.raises(ValueError, match="did not confirm convergence"):
        k_core(edges, k=2, max_rounds=1, strict=True).count()
    # converged run: bit-identical result, NO warning
    with _w.catch_warnings():
        _w.simplefilter("error")
        assert k_core(edges, k=2, max_rounds=8).count() == 0


def test_k_core_empty_on_final_round_is_converged(spark):
    # triangle + k=4 peels ALL edges in exactly one round; with
    # max_rounds=1 the loop exits by range exhaustion with zero edges
    # left — that IS the exact (empty) k-core, so no warning
    import warnings as _w

    from biodiversity_data_ingestion_spark.operators.corpus import k_core

    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "u long, v long")
    with _w.catch_warnings():
        _w.simplefilter("error")
        assert k_core(edges, k=4, max_rounds=1, strict=True).count() == 0


def test_hits_bipartite_hand_graph(spark):
    # star bipartite graph: hub 1 -> auths {10, 11}, hub 2 -> auth 10.
    # After round 1: a_raw(10)=h1+h2, a_raw(11)=h1 with h=S//3 each;
    # the L1-normalized fixed-point values are checked against a
    # straight Python replay of the integer update rule.
    from biodiversity_data_ingestion_spark.operators.corpus import (
        HITS_SCALE,
        hits,
    )

    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], "src long, dst long"
    )
    got = {r["node"]: (r["hub"], r["auth"]) for r in hits(edges, n_iter=2).collect()}

    S = HITS_SCALE
    h = {1: S // 4, 2: S // 4, 10: S // 4, 11: S // 4}
    E = [(1, 10), (1, 11), (2, 10)]
    for _ in range(2):
        a_raw = {}
        for u, v in E:
            a_raw[v] = a_raw.get(v, 0) + h[u]
        A = sum(a_raw.values())
        a = {n: (a_raw.get(n, 0) * S) // A for n in h}
        h_raw = {}
        for u, v in E:
            h_raw[u] = h_raw.get(u, 0) + a[v]
        H = sum(h_raw.values())
        h = {n: (h_raw.get(n, 0) * S) // H for n in a}
    for n in h:
        assert got[n] == (h[n] / S, a[n] / S), n
    # empty graph
    assert hits(spark.createDataFrame([], "src long, dst long")).count() == 0


def test_label_propagation_two_cliques(spark):
    # two disjoint triangles bridged by nothing: 3 synchronous rounds
    # collapse each clique onto its smallest member's label — the
    # deterministic (max count, min label) tie-break does the work in
    # round 1 (every node sees two distinct neighbor labels, picks min)
    from biodiversity_data_ingestion_spark.operators.corpus import (
        label_propagation,
    )

    half = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(
        half + [(b, a) for a, b in half], "src long, dst long"
    )
    got = {
        r["node"]: r["community"]
        for r in label_propagation(edges, n_iter=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_label_propagation_python_reference(spark):
    # bit-exact synchronous replay vs a pure-Python reference on a
    # messier graph (two cliques + a bridge node pulled both ways)
    from biodiversity_data_ingestion_spark.operators.corpus import (
        label_propagation,
    )

    half = [
        (1, 2), (2, 3), (1, 3),
        (5, 6), (6, 7), (5, 7),
        (3, 4), (4, 5),  # bridge path between the cliques
    ]
    sym = half + [(b, a) for a, b in half]

    def reference(pairs, n_iter):
        from collections import defaultdict

        adj = defaultdict(set)
        for a, b in pairs:
            adj[a].add(b)
        labels = {v: v for v in adj}
        for _ in range(n_iter):
            new = {}
            for v in adj:
                cnt = defaultdict(int)
                for u in adj[v]:
                    cnt[labels[u]] += 1
                new[v] = min(cnt, key=lambda l: (-cnt[l], l))
            labels = new
        return labels

    edges = spark.createDataFrame(sym, "src long, dst long")
    for n_iter in (1, 2, 3):
        got = {
            r["node"]: r["community"]
            for r in label_propagation(edges, n_iter=n_iter).collect()
        }
        assert got == reference(sym, n_iter), f"n_iter={n_iter}"


def test_label_propagation_empty_graph(spark):
    from biodiversity_data_ingestion_spark.operators.corpus import (
        label_propagation,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    out = label_propagation(empty, n_iter=2)
    assert out.columns == ["node", "community"]
    assert out.count() == 0


def test_graph_iteratives_gate_regimes_identical(spark, monkeypatch):
    # r14: label_propagation / pagerank / hits pre-partition the per-round
    # edge cache by a REGIME-DEPENDENT key (gated: the round's groupBy
    # key, so rounds run exchange-free; ungated: the round's join key).
    # Pin that both regimes walk the identical integer trajectory — the
    # partitioning choice must never leak into results.
    half = [
        (1, 2), (2, 3), (1, 3),
        (5, 6), (6, 7), (5, 7),
        (3, 4), (4, 5),
    ]
    sym = half + [(b, a) for a, b in half]
    edges = spark.createDataFrame(sym, "src long, dst long")

    def run_all():
        return [
            sorted(tuple(r) for r in op(edges, n_iter=3).collect())
            for op in (corpus.label_propagation, corpus.pagerank, corpus.hits)
        ]

    gated = run_all()
    monkeypatch.setattr(corpus, "DROP_LIST_BROADCAST_ROWS", 0)
    assert run_all() == gated


@pytest.mark.parametrize(
    "op", ["pagerank", "hits", "label_propagation", "connected_components"]
)
def test_graph_iteratives_release_caches_when_a_job_throws(spark, op):
    # the edge caches must not outlive a call whose first job (the node
    # build, the seed fold) throws on a bad input row
    spark.catalog.clearCache()
    bad = spark.range(10).select(
        F.col("id").alias("src"),
        F.when(F.col("id") == 7, F.raise_error(F.lit("bad edge row")))
        .otherwise(F.col("id") + 1)
        .alias("dst"),
    )
    with pytest.raises(Exception, match="bad edge row"):
        getattr(corpus, op)(bad, src="src", dst="dst")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
