"""Similarity search over embedding columns (north-star extension).

Brute-force cosine top-k as the exact baseline, and an IVF-style
(centroid-bucketed) variant as the 100 TB scale path.

Vector math is done with native array expressions (zip_with + aggregate)
— JVM-side, no Python. At scale the probe side is small (queries) and is
broadcast; the corpus side streams through the scan, so the exact top-k
is a single pass, no shuffle except the final per-query top-k (tiny).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.pairs import ordered_pairs
from ..functions.partitioning import fan_out


def _dot(a: Column, b: Column) -> Column:
    # left-to-right fold => deterministic, engine-portable summation order
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity over double arrays; NULL on zero-norm input.

    A zero vector (e.g. a padding embedding on a real corpus) makes the
    bare quotient x/0.0, which RAISES SparkArithmeticException
    [DIVIDE_BY_ZERO] under this build's ANSI-on default — Spark's zero
    check applies to double division too (verified live). nullif turns
    the zero denominator into NULL, and x/NULL is NULL under ANSI (no
    check), so a zero-norm vector yields a NULL similarity instead of
    killing an hours-long job. This is EXACTLY the DuckDB oracles'
    behavior (x/0.0 -> NULL in DuckDB 1.0): threshold filters
    (cos >= t) drop NULLs in both engines, and ranking windows order
    cos DESC with nulls-last in both (Spark desc == desc_nulls_last;
    DuckDB default_null_order = nulls_last), so parity holds with a
    planted zero vector — regression-tested in
    test_operators.test_zero_norm_embeddings_null_not_crash.

    VERSION COUPLING: the x/0.0 -> NULL oracle behavior is the DuckDB
    1.0 default. DuckDB >= 1.1 defaults ieee_floating_point_ops=true
    (x/0.0 -> inf, ranking FIRST under cos DESC — the parity would
    silently invert). Every oracle connection therefore pins
    `SET ieee_floating_point_ops = false` (no-op-guarded on 1.0); see
    tests/oracle_harness.duckdb_con."""
    return _dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))


def as_double_vec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast queries x corpus scan.

    Ranking uses the cosine ROUNDED to 6 decimals with id tie-break, so
    results are stable across engines/partitionings (float last-bit noise
    can't reorder the cut).
    Returns (query_id, neighbor_id, cos_sim, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(F.col(vec_col)).alias("qv")
    )
    # per-row fold over the vector is CPU-bound; scores are per-row (no
    # cross-partition float accumulation) => fan-out is determinism-safe
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("cv")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    # PARTIAL TOP-K before the per-query ranking window (the BM25 skew
    # guard): a bare partitionBy(query_id) window serializes the ENTIRE
    # corpus's rows for one query into one partition — the 100 TB
    # bottleneck. Pre-ranking within (query_id, scan shard) caps what
    # the final window sees at n_shards x k rows per query; the true
    # global top-k provably survives (each of its rows ranks <= k
    # inside its own shard), and the final window re-ranks with the
    # same deterministic order, so the result is partitioning-invariant.
    order = (F.col("cos_sim").desc(), F.col("neighbor_id"))
    w_pre = Window.partitionBy("query_id", "_shard").orderBy(*order)
    pre = (
        scored.withColumn("_shard", F.spark_partition_id())
        .withColumn("_pre_rank", F.row_number().over(w_pre))
        .where(F.col("_pre_rank") <= k)
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        pre.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= t).

    Exact all-pairs scoring — the correctness baseline for embedding
    dedup. At 100 TB the same verification runs only on candidates from
    a blocking stage (sign-LSH over random hyperplanes or the IVF label
    buckets below) instead of the n^2 cross join; `ivf_topk` is the
    blocked scale path. Returns (id_a, id_b, cos_sim) rounded 6.
    """
    a = fan_out(corpus).select(
        F.col(id_col).alias("id_a"), as_double_vec(F.col(vec_col)).alias("va")
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"), as_double_vec(F.col(vec_col)).alias("vb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _rademacher(j: int, d: Column) -> Column:
    """Deterministic pseudo-random ±1 hyperplane entry h[j][d].

    Integer mix mod 97 mod 2 — engine-portable (same expression runs in
    the DuckDB oracle), no RNG state. j is the bit index, d the 0-based
    vector dimension.
    """
    dl = d.cast("long")
    mix = (F.lit(j * 73856093).cast("long") + dl * 19349663 + dl * F.lit(j * 83492791).cast("long")) % 97
    return F.when(mix % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))


def signlsh_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 16,
    band_bits: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding near-dup pairs via sign-LSH blocking + exact verify.

    The 100 TB path replacing the O(n^2) all-pairs theta join: each
    vector gets n_bits sign bits (sign of the dot product with a
    deterministic ±1 hyperplane), packed into n_bits/band_bits bands;
    only pairs sharing at least one full band are candidates, then the
    exact cosine filter runs on candidates only. All joins are hash
    joins on (band, key) / id — no BroadcastNestedLoopJoin anywhere in
    the plan (asserted by tests/test_plans.py).

    Deterministic and engine-portable: hyperplanes come from an integer
    mix (no RNG), projections are left-fold double sums, so the DuckDB
    oracle reproduces the exact same candidate set. Recall < 1 by LSH
    construction — `cosine_dup_pairs` stays as the exact baseline and
    the recall floor is unit-tested like the MinHash variant.
    """
    n_bands = n_bits // band_bits
    v = corpus.select(
        F.col(id_col).alias("vid"), as_double_vec(F.col(vec_col)).alias("v")
    )

    def bit(j: int) -> Column:
        proj = F.aggregate(
            F.transform("v", lambda x, d: x * _rademacher(j, d)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (proj >= 0).cast("int")

    band_keys = [
        sum(
            (bit(b * band_bits + p) * F.lit(1 << p) for p in range(band_bits)),
            F.lit(0),
        )
        for b in range(n_bands)
    ]
    # join-free bucket-list candidate generation (same shape as the
    # MinHash/SimHash generators): a bucket self-join would evaluate the
    # 16-projection signature stage once per side; grouping members per
    # (band, key) bucket evaluates it exactly once, and pairs explode
    # inside each bucket. A pair colliding on several bands is collapsed
    # by the distinct() — the pair stream here is bounded by bucket
    # occupancy, not corpus^2.
    sig = v.select(
        "vid", F.posexplode(F.array(*band_keys)).alias("band", "key")
    )
    members = (
        sig.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("vid")).alias("vids"))
        .where(F.size("vids") > 1)
    )
    cand = (
        members.select(F.explode(ordered_pairs(F.col("vids"), "id_a", "id_b")).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    va = v.select(F.col("vid").alias("id_a"), F.col("v").alias("va"))
    vb = v.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def label_centroids(
    corpus: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean vector, exploded to (label, dim, centroid_val).

    The building block of IVF partitioning: posexplode -> two-level agg.
    Map-side partial aggregation keeps the shuffle at |labels| x dims.
    """
    exploded = corpus.select(
        F.col(label_col).alias("label"),
        F.posexplode(as_double_vec(F.col(vec_col))).alias("dim", "val"),
    )
    # 2^24 fixed-point accumulation (the kmeans quantization): integer
    # sums are order-independent, unlike avg(double) whose accumulation
    # order could flip the rounded output across partition layouts.
    q = F.round(F.col("val") * F.lit(16777216.0)).cast("bigint")
    return (
        exploded.withColumn("q", q)
        .groupBy("label", "dim")
        .agg(
            F.round(
                (F.sum("q").cast("double") / F.count(F.lit(1))) / 16777216.0, 6
            ).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """IVF-style ANN: route each query to its n_probe nearest label
    centroids, then exact cosine only within those buckets.

    At 100 TB the corpus is pre-partitioned by bucket (partitionBy on
    write), so a probe touches n_probe partitions instead of the full
    scan — the partition-pruning path. Recall < 1 by construction; the
    exact `cosine_topk` is the correctness baseline.

    Routing centroids are FIXED-POINT integer means (the kmeans_lloyd
    quantization: sum(xq) div count, rescaled to exact doubles), not
    round(avg(double)): float mean accumulation is order-dependent, so
    the probe choice could race a rounding boundary across
    partitionings/engines. With integer centroids the routing cosine
    is computed from bit-identical inputs everywhere, which is what
    lets ivf_kmeans_topk carry an exact SQL oracle.
    """
    cents = _int_centroids(
        corpus.select(
            F.col(label_col).alias("label"),
            quantize_vec(F.col(vec_col)).alias("v"),
        ),
        ["label"],
    ).select(
        "label",
        F.transform("cvec", lambda c: c / F.lit(float(KMEANS_SCALE))).alias("cvec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(F.col(vec_col)).alias("qv")
    )
    qc = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "qv",
        "label",
        F.round(cosine(F.col("qv"), F.col("cvec")), 6).alias("c_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("c_sim").desc(), F.col("label"))
    probes = qc.withColumn("pr", F.row_number().over(wq)).where(F.col("pr") <= n_probe)
    c = fan_out(corpus).select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("neighbor_id"),
        as_double_vec(F.col(vec_col)).alias("cv"),
    )
    scored = c.join(
        F.broadcast(probes.select("query_id", "qv", "label")), "label"
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


KMEANS_SCALE = 1 << 24  # matches float32 mantissa precision at |x| ~ 1


def quantize_vec(col: Column, scale: int = KMEANS_SCALE) -> Column:
    """Embedding coordinates as SCALE-denominated bigints.

    x * 2^24 is an EXACT double product (power-of-two multiply of a
    float-derived double), so round() sees an unambiguous value and
    both Spark and DuckDB produce the identical integer (both round
    half away from zero). 2^-24 ~ 6e-8 equals float32 ulp at |x| ~ 0.5,
    so quantization loses nothing the input ever had.
    """
    return F.transform(
        col, lambda x: F.round(x.cast("double") * F.lit(float(scale))).cast("long")
    )


def _sq_l2_dec(a: Column, b: Column) -> Column:
    """Exact decimal integer squared-L2 between quantized vectors.

    decimal accumulation: quantized coords can reach ~2^31 for
    out-of-envelope inputs (unit vectors are ~2^24), and a bigint
    square would overflow under ANSI mode. decimal(18,0) holds any
    |diff| < 1e18, the square fits decimal(37,0), and the running sum
    decimal(38,0) — all exact integers, so the min-comparison (and the
    SQL oracle's HUGEINT sum) agree bit-for-bit."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x - y).cast("decimal(18,0)")
            * (x - y).cast("decimal(18,0)"),
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, d: acc + d,
    )


def _argmin_cluster(v: Column, cents_arr: Column) -> Column:
    """Nearest-centroid id: argmin of exact squared-L2 with cluster-id
    tie-break, over a (cluster, cvec) struct-array column (the one-row
    broadcast fold of a centroid table). array_min over structs orders
    by d then c — identical to a min-over-rows of the same struct."""
    return F.array_min(
        F.transform(
            cents_arr,
            lambda cc: F.struct(
                _sq_l2_dec(v, cc["cvec"]).alias("d"),
                cc["cluster"].alias("c"),
            ),
        )
    )["c"]


def _int_centroids(df: DataFrame, keys: list[str], vec: str = "v") -> DataFrame:
    """Per-``keys`` integer mean of the bigint vector column ``vec``,
    as ``cvec``: posexplode, then ``sum div count`` per (keys, dim)
    (truncating integer division — identical in Spark ``div``, DuckDB
    ``//`` and Python int()), reassembled in dim order. Map-side
    combinable; the shuffle is groups x dims, independent of corpus
    size."""
    return (
        df.select(*keys, F.posexplode(vec).alias("dim", "val"))
        .groupBy(*keys, "dim")
        .agg(F.expr("sum(val) div count(1)").alias("cval"))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cval"))).alias("pairs"))
        .select(*keys, F.transform("pairs", lambda p: p["cval"]).alias("cvec"))
    )


def _lloyd(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_iter: int,
    n_subspaces: int = 1,
    width: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """The fixed-point Lloyd loop behind :func:`kmeans_lloyd` and
    :func:`pq_adc_topk`: one k-code codebook per contiguous
    ``width``-dim slice of the quantized vectors — the whole vector
    when ``n_subspaces`` is 1 — with every subspace trained in the
    same jobs each round.

    Returns (codes, codebook). codes is the checkpointed final
    assignment (vid, code_0 .. code_{n_subspaces-1}); codebook is the
    post-final-assign update (subspace, cluster, cvec), left lazy so
    only a caller that reads it pays for it.
    """
    subs = range(n_subspaces)
    vecs = corpus.select(
        F.col(id_col).alias("vid"), quantize_vec(F.col(vec_col)).alias("v")
    )

    def sl(s: int) -> Column:
        return F.col("v") if n_subspaces == 1 else F.slice("v", s * width + 1, width)

    def slices(frame: DataFrame, code) -> DataFrame:
        # one (subspace, cluster, slice) row per subspace of each vector
        return frame.select(F.inline(F.array(*[
            F.struct(F.lit(s).alias("subspace"), code(s).alias("cluster"), sl(s).alias("v"))
            for s in subs
        ])))

    # seed selection is a global top-k (TakeOrderedAndProject — per-
    # partition heaps, no total sort); the row_number window then runs
    # over only k rows, and every subspace seeds from the same k ids
    seed = vecs.orderBy("vid").limit(k)
    seed = seed.withColumn("cluster", F.row_number().over(Window.orderBy("vid")) - 1)
    cents = slices(seed, lambda s: F.col("cluster")).withColumnRenamed("v", "cvec")
    cents = cents.localCheckpoint()
    for it in range(n_iter):
        # the centroid table folds into ONE broadcast row holding a
        # (cluster, cvec) struct array per subspace, so the assign step
        # is a pure projection and the only per-round exchanges are the
        # map-side-combinable centroid update's
        row = cents.agg(*[
            F.collect_list(F.when(F.col("subspace") == s, F.struct("cluster", "cvec")))
            .alias(f"_c{s}")
            for s in subs
        ])
        assigned = vecs.crossJoin(F.broadcast(row)).select(
            "vid",
            "v",
            *[_argmin_cluster(sl(s), F.col(f"_c{s}")).alias(f"code_{s}") for s in subs],
        )
        codebook = _int_centroids(
            slices(assigned, lambda s: F.col(f"code_{s}")), ["subspace", "cluster"]
        )
        if it < n_iter - 1:
            # NOTE (measured, do not "optimize"): checkpointing only
            # every third round re-scans vecs per level and serializes
            # the nested broadcasts inside one job — 3.7 s vs 3.2 s at
            # sf0.1. Per-round checkpoints win.
            cents = codebook.localCheckpoint()
    # materialize the final assignment (ids and codes, vectors dropped):
    # consumers reference it from both sides of a self-join, and an
    # unmaterialized plan would re-run the last assign once per reference
    codes = assigned.select("vid", *[f"code_{s}" for s in subs]).localCheckpoint()
    return codes, codebook


def kmeans_lloyd(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 5,
) -> DataFrame:
    """Deterministic FIXED-POINT Lloyd k-means over an embedding column.

    Init: the k vectors with the smallest ids (reproducible, no RNG).
    Coordinates are quantized once to ``KMEANS_SCALE``-denominated
    bigints (see :func:`quantize_vec`); from there every step is
    integer arithmetic, so the whole trajectory is BIT-EXACT across
    partitionings and engines — a chained-CTE SQL replay hash-matches
    (the round-to-9dp double formulation this replaces was
    partition-independent only up to a rounding-boundary race).

    Each iteration: (1) assign every vector to its nearest centroid —
    integer squared-L2 with cluster-id tie-break, a projection against
    the broadcast centroid row (:func:`_argmin_cluster`), so no vector
    is shuffled; (2) recompute centroids dimension-wise as truncating
    integer means (:func:`_int_centroids`). Overflow headroom:
    |xq| <= |x|_max * 2^24, so the 64-dim squared distance stays
    ~2^52 << 2^63 for |x| <= 8.

    Centroids are localCheckpoint'ed per iteration (flat lineage, same
    pattern as corpus.connected_components). Fixed iteration count, no
    convergence test: deterministic cost, and at scale you run a known
    budget anyway. A cluster that loses every member simply drops out
    of the centroid table (same as the SQL replay).

    Returns the checkpointed (id, cluster) final assignments.
    """
    codes, _ = _lloyd(corpus, id_col, vec_col, k, n_iter)
    return codes.select(F.col("vid").alias(id_col), F.col("code_0").alias("cluster"))


def _jl_sign(i: int, j: int, d_out: int) -> float:
    """Deterministic Rademacher entry R[i][j] for the JL projection.

    Multiply/xor-shift mix of the flattened index in the 2^31 domain —
    pure integer arithmetic the SQL oracle reproduces exactly (xor(),
    //, %). A plain LCG is NOT usable here: any affine map of
    sequential seeds yields near-identical sign columns (measured 0.97
    column correlation); the xor steps break the affinity (measured
    quality matches numpy true-random signs: max |col corr| ~0.3,
    pairwise JL distance ratios within [0.6, 1.4] at d_out=32).
    """
    h = (i * d_out + j + 1) * 2654435761 % 2147483648
    h = h ^ (h // 65536)
    h = h * 1597334677 % 2147483648
    h = h ^ (h // 8192)
    return 1.0 if (h // 16) % 2 == 0 else -1.0


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d_in: int = 64,
    d_out: int = 8,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    vector onto d_out deterministic Rademacher hyperplanes, scaled by
    1/sqrt(d_out). The scale path for ANN/LSH over wide embeddings:
    shrink 64 -> 8 dims BEFORE any shuffle so downstream bucketing/
    banding moves 8x less data.

    The sign matrix is a plan literal (broadcast with the plan, never a
    join); per-component sums are LEFT-TO-RIGHT folds over the dims so
    the result is bit-identical across partitionings and engines
    (the DuckDB oracle mirrors the fold with list_reduce).

    Returns long-format (id, j, comp) with comp rounded to 6dp.
    """
    import math

    v = as_double_vec(F.col(vec_col))
    # divide by the correctly-rounded sqrt (NOT multiply by a reciprocal:
    # x/sqrt(d) and x*(1/sqrt(d)) differ in the last bit, and the oracle
    # divides)
    scale = F.lit(math.sqrt(d_out))
    comps = []
    for j in range(d_out):
        signs = F.array(*[F.lit(_jl_sign(i, j, d_out)) for i in range(d_in)])
        dot = F.aggregate(
            F.zip_with(signs, v, lambda s, x: s * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        comps.append(dot / scale)
    return df.select(
        F.col(id_col), F.posexplode(F.array(*comps)).alias("j", "comp")
    ).select(
        id_col,
        F.col("j").cast("long").alias("j"),
        F.round("comp", 6).alias("comp"),
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style blocked embedding dedup (Abbas et al. 2023):
    cluster the corpus with deterministic k-means, then score exact
    cosine pairs WITHIN each cluster only. The cluster id is the
    blocking key — pairwise work drops from n^2 to sum(|cluster|^2),
    and the per-cluster join shuffles on the cluster id instead of
    cross-joining the corpus. Near-duplicates by construction sit close
    in embedding space, so they share a cluster at any reasonable k;
    k trades recall (bigger clusters) against cost (smaller).

    Returns (id_a < id_b, cos_sim >= threshold, cluster) candidate
    pairs, cosine rounded to 6dp like `cosine_dup_pairs` (whose
    unblocked output this matches on separated data — unit-tested).
    """
    clusters = kmeans_lloyd(corpus, id_col, vec_col, k=k, n_iter=n_iter)
    with_c = corpus.join(clusters, id_col).select(
        F.col(id_col).alias("vid"),
        as_double_vec(F.col(vec_col)).alias("v"),
        "cluster",
    )
    a = with_c.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), "cluster"
    )
    b = with_c.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), "cluster"
    )
    return (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
            "cluster",
        )
        .where(F.col("cos_sim") >= threshold)
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
    codes_per_subspace: int = 4,
    n_iter: int = 2,
    k: int = 5,
    rerank: int | None = None,
) -> DataFrame:
    """Product-Quantization ANN with Asymmetric Distance Computation —
    the embedding-COMPRESSION scale path next to IVF's routing path
    (Jégou et al., "Product Quantization for Nearest Neighbor Search").

    Train: the vector splits into ``n_subspaces`` contiguous slices;
    each slice gets its own fixed-point k-means codebook, all of them
    trained together by the one Lloyd loop behind :func:`kmeans_lloyd`
    (one set of jobs per round for every subspace), and a vector's
    code is its per-subspace cluster ids, read straight from the loop's
    checkpointed final assignment — storage drops from dims x 4 bytes
    to n_subspaces x 1 byte per vector (the reason PQ exists at 100 TB:
    a billion 64-dim float vectors become a 4 GB code table that fits
    one executor's memory). Dims past ``n_subspaces`` x width are
    ignored.

    Search (ADC): for each query, the distance to every CENTROID of
    every subspace is precomputed — a queries x subspaces x codes
    lookup table of integer squared-L2s, kilobytes, broadcast — and a
    database vector's approximate distance is the SUM of its codes'
    table entries: per-vector work is n_subspaces map-side lookups, no
    vector math, and the only shuffle is the final per-query top-k.

    DETERMINISM: codebooks come from the bit-exact integer k-means and
    the ADC table is integer arithmetic end-to-end, so distances,
    ranking (dist, id tie-break) and the oracle's chained-CTE replay
    agree hash-for-hash.

    Returns (query_id, vec_id, adc_dist, rank), top ``k`` per query.
    """
    # subspace width from the first vector (plan literal; embeddings
    # are fixed-width by contract)
    width = corpus.select(F.size(F.col(vec_col)).alias("d")).first()["d"] // n_subspaces
    codes, codebook = _lloyd(
        corpus, id_col, vec_col, codes_per_subspace, n_iter, n_subspaces, width
    )
    cents = codebook.localCheckpoint()

    qv = queries.select(
        F.col(id_col).alias("query_id"), quantize_vec(F.col(vec_col)).alias("qv")
    )
    scored = codes.withColumnRenamed("vid", "vec_id").crossJoin(
        F.broadcast(qv.select("query_id"))
    )
    total = None
    for s in range(n_subspaces):
        # query -> centroid integer sq-L2 per code: the ADC lookup
        # table slice (queries x codes rows, kilobytes)
        qslice = qv.select(
            "query_id", F.slice(F.col("qv"), s * width + 1, width).alias("qs")
        )
        # int64 fixed-point squared-L2 (NOT decimal — per-element
        # BigDecimal products in a higher-order function are ~2x the
        # cost for zero benefit here): quantized coords of normalized
        # embeddings are |xq| < 2^25 (|x| < 2 at KMEANS_SCALE=2^24), so
        # each diff^2 < 2^52 and the fold stays exact in int64 up to
        # 1024 dims/subspace (2^52 * 2^10 < 2^63). kmeans_lloyd's
        # assign step keeps its decimal path for out-of-envelope
        # inputs; PQ's contract is embeddings, which are in-envelope.
        dist = F.aggregate(
            F.zip_with(
                F.col("qs"),
                F.col("cvec"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d,
        )
        t = qslice.crossJoin(F.broadcast(cents.where(F.col("subspace") == s))).select(
            "query_id",
            F.col("cluster").alias(f"code_{s}"),
            dist.alias(f"d_{s}"),
        )
        scored = scored.join(F.broadcast(t), ["query_id", f"code_{s}"])
        total = F.col(f"d_{s}") if total is None else total + F.col(f"d_{s}")
    # PARTIAL TOP-K before the per-query ranking window (the BM25 skew
    # guard, reused): partitionBy(query_id) alone would serialize every
    # corpus row for one query into a single window partition — the
    # 100 TB skew point. Pre-ranking within (query_id, shard) caps the
    # final window at n_shards x k rows per query; the global top-k
    # survives (each row ranks <= k in its own shard) and the final
    # re-rank uses the same deterministic order, so the output is
    # partitioning-invariant.
    kk = k if rerank is None else rerank
    order = (F.col("adc_dist").asc(), F.col("vec_id").asc())
    w_pre = Window.partitionBy("query_id", "_shard").orderBy(*order)
    w = Window.partitionBy("query_id").orderBy(*order)
    adc = (
        scored.withColumn("adc_dist", total.cast("long"))
        .withColumn("_shard", F.spark_partition_id())
        .withColumn("_pre_rank", F.row_number().over(w_pre))
        .where(F.col("_pre_rank") <= kk)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= kk)
        .select("query_id", "vec_id", "adc_dist", "rank")
    )
    if rerank is None:
        return adc
    # ADC-shortlist + EXACT rerank — the production IVF-PQ tail: the
    # compressed codes prune the corpus to `rerank` candidates per
    # query, then true integer squared-L2 (one join against the
    # shortlisted vectors only — queries x rerank rows, never the
    # corpus) fixes the quantization error in the final order. Still
    # integer end-to-end, so it stays engine-exact.
    cvq = corpus.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col)).alias("cv")
    )
    # int64 for the same envelope reason as the ADC tables above: full
    # vectors are <= 1024 dims at |diff| < 2^26, so the fold is exact
    exact_d = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("cv"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("exact_dist").asc(), F.col("vec_id").asc()
    )
    return (
        adc.select("query_id", "vec_id")
        .join(cvq, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("exact_dist", exact_d.cast("long"))
        .withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "exact_dist", "rank")
    )
