"""Grouped / global aggregation patterns (reference parity).

- A1 global combine (occurrences_pipeline.py:50-77)
- A2 per-key count (cleaning_summary_pipeline.py:54-70)
- A3 numeric distribution stats — POPULATION sd, linear-interpolated
  percentiles, rounded 2 (transforms.py:646-744, stats at :720-730)
- A4 distinct-set summary: count + sorted values (transforms.py:804-886)
- A10-A13 SQL multi-dimension aggregates (biodiversity_metadata_dag.py:
  330-575) — see plans/views.py for the SQL layer
- A14 terms-agg summaries (update_summary_index.py:4-100)

Determinism notes for oracle parity: the reference's numpy `std` is
population sd and `numpy.percentile` is linearly interpolated — Spark
`stddev_pop` and `percentile` (NOT percentile_approx) match exactly;
BigQuery STRING_AGG order is unspecified, so set outputs are sorted
before joining (SURVEY.md A12 note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def distribution_stats(
    df: DataFrame,
    keys: list[str],
    value: str,
    ndigits: int = 2,
    value_dec: str = "decimal(18,2)",
) -> DataFrame:
    """A3: {mean, sd(pop), median, p5, p95, min, max} rounded, per key.

    The three exact percentiles are computed from ONE percentile buffer
    (array argument) — three separate percentile() aggregates would each
    build their own per-group value-count map, tripling the dominant
    memory/CPU cost of this aggregation.

    ``value_dec`` is the DECIMAL type the value column is cast to for
    the mean/sd moments — it must represent the column's values EXACTLY
    (default assumes cent-valued 2dp money, the A3 use case). Passing a
    column with more fractional digits than the scale, or magnitudes
    beyond the precision, would silently round/null values into the
    moments while percentiles/min/max still see the raw column — widen
    the type for such inputs.

    ACCURACY CAVEAT (sd << mean): the one-pass close
    sqrt((s2 - s1^2/n)/n) subtracts two near-equal doubles after the
    decimal->double casts, so when the spread is tiny relative to the
    magnitude (sd/mean below ~1e-6) catastrophic cancellation can cost
    most of the sd's significant digits. It is deterministic and the
    oracle mirrors the identical op sequence, so parity holds — the
    loss is absolute accuracy, not reproducibility. For such inputs
    center the data first (subtract a per-group pivot before the
    moments) or use the two-pass stddev_pop.
    """
    # mean/sd from exact DECIMAL first/second moments: native avg /
    # stddev_pop accumulate doubles in partition order, which can flip
    # the rounded output across layouts (the dsir lesson). The cent-
    # valued inputs keep v and v*v exact in decimal; the closing
    # mean/sqrt is a FIXED sequence of double ops on identical operands.
    v = F.col(value)
    vd = v.cast(value_dec)
    agg = df.groupBy(*keys).agg(
        F.sum(vd).alias("_s1"),
        F.sum(vd * vd).alias("_s2"),
        F.percentile(v, F.array(F.lit(0.5), F.lit(0.05), F.lit(0.95))).alias("_pcts"),
        F.round(F.min(v), ndigits).alias("min"),
        F.round(F.max(v), ndigits).alias("max"),
        F.count(v).alias("n"),
    )
    s1d = F.col("_s1").cast("double")
    s2d = F.col("_s2").cast("double")
    n = F.col("n")
    return agg.select(
        *keys,
        F.round(s1d / n, ndigits).alias("mean"),
        F.round(
            F.sqrt(F.greatest((s2d - s1d * s1d / n) / n, F.lit(0.0))), ndigits
        ).alias("sd"),
        F.round(F.element_at("_pcts", 1), ndigits).alias("median"),
        F.round(F.element_at("_pcts", 2), ndigits).alias("p5"),
        F.round(F.element_at("_pcts", 3), ndigits).alias("p95"),
        "min",
        "max",
        "n",
    )


def distinct_set_summary(df: DataFrame, key: str, value: str) -> DataFrame:
    """A4/O3: per key, #distinct values + sorted values joined ',' (the
    deterministic STRING_AGG-DISTINCT form used for oracle hashing)."""
    return df.groupBy(key).agg(
        F.size(F.collect_set(value)).alias("n_distinct"),
        F.array_join(F.array_sort(F.collect_set(value)), ",").alias("values"),
    )


def global_metrics(df: DataFrame, metric_cols: dict[str, Column]) -> DataFrame:
    """A1: single-row global combine of named aggregate expressions."""
    return df.agg(*[c.alias(name) for name, c in metric_cols.items()])


def sketch_distribution_stats(
    df: DataFrame, keys: list[str], value: str, ndigits: int = 2
) -> DataFrame:
    """Sketch-based distribution stats: approx percentiles (Greenwald-
    Khanna via percentile_approx) + HyperLogLog++ distinct counts.

    The 100 TB companion to `distribution_stats`: exact percentile()
    materializes a per-group value-count map whose size is the number of
    DISTINCT values in the group — unbounded at scale. The GK sketch and
    HLL++ are constant-space, mergeable partials, so the aggregation
    stays one map-side-combinable shuffle regardless of group size.
    accuracy=10000 bounds percentile rank error at 1/10000; HLL++
    relative error here is 1% (rsd=0.01). Approximate by construction —
    checked by error-bound unit tests against the exact operator, not by
    the hash-equality oracle.
    """
    v = F.col(value)
    pcts = F.percentile_approx(
        v, F.array(F.lit(0.5), F.lit(0.05), F.lit(0.95)), F.lit(10000)
    )
    agg = df.groupBy(*keys).agg(
        # exact DECIMAL mean (order-independent; see distribution_stats)
        F.sum(v.cast("decimal(18,2)")).alias("_s1"),
        pcts.alias("_pcts"),
        F.approx_count_distinct(v, rsd=0.01).alias("approx_distinct"),
        F.count(v).alias("n"),
    )
    return agg.select(
        *keys,
        F.round(F.col("_s1").cast("double") / F.col("n"), ndigits).alias("mean"),
        F.round(F.element_at("_pcts", 1), ndigits).alias("median"),
        F.round(F.element_at("_pcts", 2), ndigits).alias("p5"),
        F.round(F.element_at("_pcts", 3), ndigits).alias("p95"),
        "approx_distinct",
        "n",
    )


def hll_rollup(
    df: DataFrame,
    fine_keys: list[str],
    coarse_keys: list[str],
    value: str,
    lg_k: int = 14,
) -> DataFrame:
    """Mergeable-sketch distinct-count rollup: build one binary HLL
    sketch per fine grain, then UNION the sketches up to the coarse
    grain and estimate — without touching the raw rows again.

    This is the re-aggregation pattern approx_count_distinct cannot
    express (it emits a number, not state): at 100 TB the fine-grain
    sketches are what you persist (e.g. per day), and any coarser
    rollup (week, month, all-time) is a cheap union over sketch bytes
    — no second pass over the corpus. Both levels are datasketches
    HLL_4 (Spark built-ins hll_sketch_agg / hll_union_agg), so the
    shuffle carries <= 2^lg_k nibbles per group instead of the value
    set itself, and sketches built anywhere (other jobs, other days)
    merge in associatively.

    Returns coarse_keys + (n_fine_groups, est_distinct, exact_distinct)
    — exact comes from the same scan for the error-bound tests; drop it
    in a real pipeline. Approximate by construction -> rows-only driver
    check; bounds asserted by test_hll_rollup_error_bounds.
    """
    fine = df.groupBy(*fine_keys).agg(
        F.hll_sketch_agg(value, F.lit(lg_k)).alias("_sk"),
        F.count_distinct(F.col(value)).alias("_exact_fine"),
    )
    coarse = fine.groupBy(*coarse_keys).agg(
        F.count(F.lit(1)).alias("n_fine_groups"),
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("est_distinct"),
    )
    exact = df.groupBy(*coarse_keys).agg(
        F.count_distinct(F.col(value)).alias("exact_distinct")
    )
    return coarse.join(exact, coarse_keys)


def theta_set_overlap(df: DataFrame, key: str, value: str) -> DataFrame:
    """Pairwise set-relationship estimates between per-key value sets
    via theta sketches — the set algebra HLL cannot do (intersection /
    difference cardinality, not just union).

    One sketch per key (theta_sketch_agg: one shuffle of sketch bytes),
    then a self-join of the TINY per-key sketch table (k rows -> k(k-1)/2
    ordered pairs) evaluates theta_intersection / theta_union /
    theta_difference as scalar expressions. At 100 TB the raw values are
    touched once; all set algebra happens on kilobyte sketches. The
    training-corpus use: estimated doc/user overlap between sources or
    splits without an exact value-level join.

    Returns (key_a, key_b, est_intersection, est_union, est_difference)
    for key_a < key_b. Approximate -> rows-only driver check; bounds in
    test_theta_overlap_error_bounds.
    """
    sk = df.groupBy(F.col(key).alias("k")).agg(
        F.theta_sketch_agg(F.col(value)).alias("sk")
    )
    a = sk.select(F.col("k").alias("key_a"), F.col("sk").alias("_ska"))
    b = sk.select(F.col("k").alias("key_b"), F.col("sk").alias("_skb"))
    return (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "key_b",
            F.theta_sketch_estimate(
                F.theta_intersection("_ska", "_skb")
            ).alias("est_intersection"),
            F.theta_sketch_estimate(F.theta_union("_ska", "_skb")).alias("est_union"),
            F.theta_sketch_estimate(
                F.theta_difference("_ska", "_skb")
            ).alias("est_difference"),
        )
    )


def kll_quantile_rollup(
    df: DataFrame,
    fine_keys: list[str],
    coarse_keys: list[str],
    value: str,
    quantiles: tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """Mergeable-quantile rollup: one KLL sketch per fine grain, folded
    up to the coarse grain, quantiles read off the merged sketch — the
    quantile analogue of hll_rollup (percentile_approx emits numbers,
    not mergeable state).

    Spark ships KLL merge only as a BINARY scalar (kll_sketch_merge_*),
    so the per-coarse-group fold is F.aggregate over the collected fine
    sketches — fine-group counts are small (days per month, shards per
    source), so the collected list is bounded and the fold is per-row
    work on kilobyte buffers.

    Returns coarse_keys + (n_fine_groups, q_<pct> per quantile).
    Approximate -> rows-only; bounds in test_kll_rollup_error_bounds.
    """
    fine = df.groupBy(*fine_keys).agg(
        F.kll_sketch_agg_bigint(F.col(value).cast("long")).alias("_k")
    )
    merged = F.aggregate(
        F.slice(F.col("_ks"), 2, F.size(F.col("_ks"))),
        F.element_at(F.col("_ks"), 1),
        lambda acc, x: F.kll_sketch_merge_bigint(acc, x),
    )
    out_cols = [
        F.kll_sketch_get_quantile_bigint(F.col("_merged"), F.lit(float(q))).alias(
            f"q_{str(q).replace('.', '_')}"
        )
        for q in quantiles
    ]
    return (
        fine.groupBy(*coarse_keys)
        .agg(
            F.count(F.lit(1)).alias("n_fine_groups"),
            F.collect_list("_k").alias("_ks"),
        )
        .withColumn("_merged", merged)
        .select(*coarse_keys, "n_fine_groups", *out_cols)
    )


def _cms_cell(value_col, j: int, width: int):
    """Depth-j cell index: the j-th 8-hex slice of ONE md5 of the value,
    taken mod width. One hash pass yields four independent 32-bit
    uniform hashes (the seeded_md5_array/chunk_min scheme from
    functions/hashing.py), and md5 is bit-identical in Spark, DuckDB
    and Python — so the whole sketch, estimates included, is
    oracle-portable. (xxhash64 would be ~2x cheaper per row but has no
    DuckDB twin; at 100 TB the sketch build is dominated by the scan
    either way.)"""
    hx = F.substring(F.md5(value_col.cast("string")), 1 + 8 * j, 8)
    return F.conv(hx, 16, 10).cast("long") % width


def cms_build(
    df: DataFrame, value: str, width: int = 256, depth: int = 4
) -> DataFrame:
    """Count-Min Sketch as a native cell table: every value maps to one
    cell per depth row (independent 8-hex slices of one md5), and the
    sketch IS the grouped count over (depth, cell) — at most
    depth x width rows regardless of cardinality, mergeable across
    shards/days by plain addition (map-side combinable, the same
    mergeable-state story as hll_rollup/kll_quantile_rollup but for
    FREQUENCIES). Returns (depth, cell, cnt)."""
    if not 1 <= depth <= 4:
        # md5 carries four independent 32-bit slices
        raise ValueError("cms_build: depth must be between 1 and 4")
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).cast("int").alias("depth"),
                    _cms_cell(F.col(value), j, width).alias("cell"),
                )
                for j in range(depth)
            ]
        )
    )
    return (
        df.select(cells.alias("c"))
        .groupBy(F.col("c.depth").alias("depth"), F.col("c.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    value: str,
    width: int = 256,
    depth: int = 4,
    k: int = 10,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Heavy hitters via the Count-Min Sketch: estimate(v) = min over
    depths of the v's cell count. The sketch is kilobytes, so the
    estimate join BROADCASTS it and candidate scoring is map-side; the
    only shuffles are the sketch build and the candidate distinct.
    Estimates never undercount (CMS guarantee: est >= true, and
    est <= true + eps*N w.h.p.); ranking is deterministic
    (est desc, value tie-break). Returns (value, est_count, rank).

    ``candidates``: optional one-column DataFrame of values to probe.
    The DEFAULT (None) derives candidates as an exact ``distinct()``
    over the data — at web scale that shuffle is bounded by the value
    cardinality, not the sketch size, and dominates the whole operator
    (it partly defeats the sketch's memory rationale; the sketch then
    only buys the mergeable per-shard frequency table). When a bounded
    vocabulary already exists (a vocab table, yesterday's top-N, a
    dictionary-encoded column's dictionary), pass it here: probing is
    then sketch-broadcast map-side work with NO candidate shuffle, and
    the operator's cost collapses to the scan + the depth*width-row
    sketch build — the shape a 100 TB deployment should run.
    Estimates for values outside ``candidates`` are simply not
    reported; values in ``candidates`` absent from the data get the
    collision mass of their cells (standard CMS overcount)."""
    sketch = cms_build(df, value, width, depth)
    if candidates is not None:
        c = candidates.columns[0]
        cand = candidates.select(F.col(c).alias("v")).distinct()
    else:
        cand = df.select(F.col(value).alias("v")).distinct()
    probes = cand.select(
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("depth"),
                        _cms_cell(F.col("v"), j, width).alias("cell"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("p"),
    ).select("v", "p.depth", "p.cell")
    est = (
        probes.join(F.broadcast(sketch), ["depth", "cell"])
        .groupBy("v")
        .agg(F.min("cnt").alias("est_count"))
    )
    # top-k via orderBy+limit = TakeOrdered (partial per-partition
    # top-k, never a single-task global sort over every distinct value
    # — that would defeat the sketch's memory/scale rationale). The
    # rank window then runs over k rows only. At web scale the dominant
    # cost is the candidate-distinct shuffle above, not this step; a
    # streaming deployment would keep a bounded candidate set instead.
    topk = est.orderBy(F.desc("est_count"), "v").limit(k)
    w = Window.orderBy(F.desc("est_count"), "v")
    return topk.select(
        F.col("v").alias(value),
        "est_count",
        F.row_number().over(w).cast("long").alias("rank"),
    )
