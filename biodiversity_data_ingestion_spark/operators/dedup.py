"""Deduplication operators.

Reference parity:
- A5 dedup by composite key, min-by tiebreak
  (data_ingestion/src/dependencies/cleaning_occs_pipeline.py:64-68,
   utils/cleaning_occs.py:221-260)
- A6 dedup by key, max-rank tiebreak, first-seen wins ties
  (beam/src/dependencies/utils/common_functions.py:78-94)
- A7 dedup keep-first by key (common_functions.py:97-104)

Extensions (BASELINE.json north star — LLM-training-data pipeline ops):
- exact content dedup (hash-groupBy)
- n-gram Jaccard near-dup (inverted-index self-join; EXACT, scalable)
- MinHash + LSH near-dup (banded signatures; approximate, 100 TB path)
- SimHash near-dup (Hamming-close fingerprints)

Scale notes: the window dedups shuffle once on their key. The near-dup
ops never materialize the O(n^2) pair space — candidate pairs come from
an inverted index (shingle -> docs) or LSH band buckets, both of which
shuffle on high-cardinality keys that AQE can split if skewed. Hot
shingles (stopword-only grams) explode candidate counts at scale, so
`ngram_jaccard_pairs` drops shingles above a document-frequency cap —
the standard trick used at web scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    chunk_min,
    seeded_md5_array,
    shingle_hash64,
    word_shingles,
)
from ..functions.pairs import ordered_pairs
from ..functions.partitioning import fan_out
from ..functions.textfn import tokenize


def keep_min_by(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """Top-1-per-group dedup: keep the row ranking first under `order`.

    A5/A6/O4: a single hash-partition shuffle on `keys`; no global sort.
    Deterministic — tie-break columns must make the order total.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact(df: DataFrame, content: str, id_col: str) -> DataFrame:
    """Exact content dedup via hash-groupBy: one row per distinct content
    hash, keeping the lowest id; reports group size.

    Map-side partial aggregation makes this one shuffle of (hash, min_id,
    count) partials — bytes shuffled ∝ distinct hashes, not input rows.
    """
    return (
        fan_out(df).select(F.md5(F.col(content).cast("string")).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _doc_shingles(
    df: DataFrame, id_col: str, text: str, n: int, words_col: str | None = None
) -> DataFrame:
    # shingling + md5 minhashing is CPU-bound per-row and hash/int-valued
    # (order-insensitive) => safe + profitable to break scan fusion.
    # words_col: a pre-tokenized tokenize(lower(text)) array — lets a
    # pipeline that also computes text features tokenize the corpus ONCE
    # (cached) instead of once per branch; values are identical because
    # the expression is the same Column tree.
    words = (
        F.col(words_col) if words_col else tokenize(F.lower(F.col(text)))
    )
    return fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        word_shingles(words, n).alias("shingles"),
    )


def _explode_computed(df: DataFrame, keep: list[str], arr, alias: str) -> DataFrame:
    """Explode a COMPUTED array column without re-evaluating it serially.

    Plain ``explode`` triggers InferFiltersFromGenerate: Catalyst infers
    ``size(arr) > 0 AND arr IS NOT NULL`` and pushes that filter below
    the fan-out exchange — evaluating the (expensive) array expression
    twice per row on the unparallelized scan side. ``explode_outer``
    infers nothing; the trailing null-filter on the OUTPUT column
    restores inner-explode semantics at negligible cost.
    """
    return df.select(*keep, F.explode_outer(arr).alias(alias)).where(
        F.col(alias).isNotNull()
    )


def _chunked_bucket_pairs(
    member_lists: DataFrame, docs_col: str, extra_cols: list[str], chunk_size: int
) -> DataFrame:
    """Explode ordered pairs from sorted bucket member lists, sharding
    hot buckets so no single row/task pins a quadratic explosion.

    Second-level banding for bucket skew (the 100 TB concern: with
    bounded band cardinality — e.g. <=1024 simhash blocks — bucket
    occupancy grows linearly with the corpus and within-bucket pairing
    is quadratic). A bucket of s members becomes ceil(s/chunk_size)
    chunks; each (i <= j) chunk combination is its own row, so the
    per-row pair yield is bounded by chunk_size^2 and the downstream
    explode parallelizes across tasks after the round-robin repartition.

    The emitted PAIR SET is unchanged: member lists are sorted, chunks
    are ordered slices, so within-chunk ordered pairs plus full i<j
    cross products enumerate each a < b pair exactly once (equality
    asserted by test_hot_bucket_chunking_preserves_pairs).

    Returns `extra_cols` + an exploded `p` struct {a, b}.
    """
    docs = F.col(docs_col)
    # size(docs) < 2 yields no pairs, and size 0 would make
    # sequence(0, n_chunks-1) the DESCENDING [0, -1] (negative slice
    # starts => garbage pairs) — drop those rows before chunking.
    member_lists = member_lists.where(F.size(docs) >= 2)
    n_chunks = F.ceil(F.size(docs) / F.lit(chunk_size)).cast("int")
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.transform(
                F.sequence(i, n_chunks - 1),
                lambda j: F.struct(i.alias("i"), j.alias("j")),
            ),
        )
    )
    exploded = member_lists.select(*extra_cols, docs, F.explode(combos).alias("_c"))
    da = F.slice(docs, F.col("_c.i") * chunk_size + 1, chunk_size)
    db = F.slice(docs, F.col("_c.j") * chunk_size + 1, chunk_size)
    cross = F.flatten(
        F.transform(
            da, lambda d: F.transform(db, lambda e: F.struct(d.alias("a"), e.alias("b")))
        )
    )
    pairs = F.when(F.col("_c.i") == F.col("_c.j"), ordered_pairs(da)).otherwise(cross)
    return exploded.select(*extra_cols, F.explode(pairs).alias("p"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    words_col: str | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-duplicate pairs via inverted-index join.

    explode(shingles) -> self-join on shingle -> count shared -> jaccard =
    shared / (|A| + |B| - shared). Only docs sharing >=1 shingle ever pair
    up, so the pair space is bounded by the inverted index, not n^2.
    `max_doc_freq` drops ubiquitous shingles (stop-gram suppression) —
    essential at 100 TB where a hot shingle would quadratically blow up
    one reducer.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    # bucket-list formulation: ZERO joins. The doc-size rides along inside
    # the bucket structs, so the shingling runs exactly once and the whole
    # computation is two shuffles (groupBy shingle, groupBy pair). The
    # earlier self-join shape computed the shingling three times (both
    # join sides + the sizes branch) and shuffled the index twice.
    # Shingles are hashed to 64-bit BIGINTs BEFORE the inverted-index
    # shuffle (shingle_hash64): the posting payload drops from the
    # n-gram text to 8 fixed bytes — the dominant shuffle-width lever at
    # 100 TB. Jaccard is computed over the hashed sets on BOTH engines
    # (oracles use the _DD_SHINGLES_H64 twin), so parity holds even
    # through a collision.
    sh = _doc_shingles(df, id_col, text, n, words_col).select(
        "doc_id", shingle_hash64(F.col("shingles")).alias("shingles")
    ).withColumn("n_sh", F.size("shingles"))
    inv = _explode_computed(sh, ["doc_id", "n_sh"], "shingles", "shingle")
    buckets = inv.groupBy("shingle").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("docs")
    )
    if max_doc_freq is not None:
        buckets = buckets.where(F.size("docs") <= max_doc_freq)
    # ordered pairs within a bucket (docs sorted by doc_id => doc_a < doc_b)
    pairs = buckets.select(F.explode(ordered_pairs(F.col("docs"))).alias("p")).select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.n_sh").alias("na"),
        F.col("p.b.n_sh").alias("nb"),
    )
    return (
        pairs.groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _band_concat(*cols) -> Column:
    """Comma-joined band key via NULL-PROPAGATING concat — one NULL
    minhash component (a shingle-less doc) nulls the whole bucket,
    mirroring the SQL oracle's `||`. concat_ws would skip NULLs and
    alias every shingle-less doc into one shared bucket per band."""
    out = [cols[0]]
    for c in cols[1:]:
        out += [F.lit(","), c]
    return F.concat(*out)


def minhash_signatures(
    df: DataFrame, id_col: str, text: str, n: int = 3, num_hashes: int = 16
) -> DataFrame:
    """Per-doc MinHash signature: num_hashes md5-derived min components.

    Component i = min over the (i%4)-th 8-hex slice of
    md5('<i//4>:' || shingle): ONE md5 per shingle yields four independent
    32-bit components, so 16 components cost 4 hash passes instead of 16 —
    md5 is the dominant cost of the signature stage (measured ~4x at
    sf0.1). The hash arrays are materialized in their own projection;
    CollapseProject leaves a non-cheap alias referenced 4x alone, so each
    md5 pass runs exactly once per row. Entirely per-row expressions —
    ZERO shuffle; scales linearly and embarrassingly parallel.
    """
    sh = _doc_shingles(df, id_col, text, n)
    n_groups = -(-num_hashes // 4)
    with_hashes = sh.select(
        "doc_id",
        "shingles",
        *[seeded_md5_array(F.col("shingles"), g).alias(f"_h{g}") for g in range(n_groups)],
    )
    sig_cols = [
        chunk_min(F.col(f"_h{i // 4}"), i % 4).alias(f"mh{i}") for i in range(num_hashes)
    ]
    return with_hashes.select("doc_id", "shingles", *sig_cols)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text: str,
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
    bucket_chunk_size: int = 1024,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, then EXACT Jaccard
    verification of candidates only. The 100 TB-scale near-dup path:

      signature (no shuffle) -> band buckets (explode bands, shuffle on
      band hash) -> pairs within a bucket -> verify with exact Jaccard on
      the two shingle sets (array_intersect — per-row, no re-join).

    Deterministic: hashes are md5-based (portable to the SQL oracle).
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded 6.
    """
    sig = minhash_signatures(df, id_col, text, n, num_hashes)
    n_bands = num_hashes // band_size
    # NULL-PROPAGATING band hash (concat, not concat_ws): docs with
    # fewer than n words have no shingles, so every minhash component
    # is NULL. concat_ws would SKIP the NULLs and give all such docs
    # the same n_bands buckets md5(str(b)) — a quadratic candidate
    # explosion on any real corpus (short docs are common at 100 TB)
    # and a 0/0 Jaccard in the verify step, which raises under ANSI.
    # With concat their buckets are NULL (exactly the SQL oracle's
    # NULL-propagating `||`) and the post-explode isNotNull filter
    # drops them. The filter sits ABOVE the generate, on the computed
    # bucket — no predicate-pushdown re-evaluation of the signature
    # expressions (a size(shingles) filter costs a measured 2.5x; a
    # raw-token-count pre-filter costs an extra split pass ~1.25x).
    bands = F.array(
        *[
            F.md5(
                _band_concat(
                    F.lit(str(b)),
                    *[F.col(f"mh{b * band_size + j}") for j in range(band_size)],
                )
            )
            for b in range(n_bands)
        ]
    )
    # candidate generation over (doc_id, bucket, earlier-band-hashes)
    # ONLY — the shingle arrays never enter the bucket grouping (at
    # scale they dominate the bytes). Join-free bucket-list shape: group
    # members per bucket and pair-explode inside, so the signature stage
    # runs ONCE (a bucket self-join evaluates it per side).
    #
    # A candidate pair can collide on several bands; each pair is
    # emitted only by its FIRST matching band (testable in place — the
    # earlier band hashes ride in the member struct) instead of a
    # distinct() over the pair stream. The pair stream grows
    # QUADRATICALLY with bucket skew (exact-dup clusters make maximal
    # buckets), so trading a constant factor on the linear bucket
    # shuffle for removing the multiplicity-scaled shuffle is the right
    # asymmetry at 100 TB. Route exact dups through dedup_exact first on
    # a real corpus all the same.
    blocked = sig.select(
        "doc_id", bands.alias("bands"), F.posexplode(bands).alias("band", "bucket")
    ).where(F.col("bucket").isNotNull())
    member_lists = blocked.groupBy("bucket").agg(
        F.first("band").alias("band"),  # bucket embeds the band index
        # each member carries ONLY the band hashes EARLIER than its own
        # band index (that is all the first-matching-band guard ever
        # consults): slicing by the row's band caps the per-member
        # payload at `band` hashes instead of n_bands - 1 — without it
        # the bucket shuffle ships O(n_bands^2) hash strings per doc at
        # high band counts, the multiplicity-scaled width the guard
        # exists to remove. All rows in a bucket share the same band.
        F.array_sort(
            F.collect_list(
                F.struct("doc_id", F.slice("bands", 1, F.col("band")).alias("eb"))
            )
        ).alias("docs"),
    )
    # hot-bucket chunking (exact-dup clusters make maximal buckets):
    # shard any bucket larger than bucket_chunk_size into chunk-pair
    # rows so no single row yields more than chunk_size^2 pairs
    pairs = _chunked_bucket_pairs(
        member_lists, "docs", ["band"], bucket_chunk_size
    ).select(
        "band",
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.eb").alias("_ba"),
        F.col("p.b.eb").alias("_bb"),
    )
    # first-matching-band guard over ALL earlier bands (mirrors
    # minhash_incremental_pairs): a pair colliding on bands i < j is
    # kept by band i only, for ANY band count. The previous hardcoded 3
    # let a pair colliding on two bands >= 3 enter the candidate stream
    # twice when num_hashes // band_size > 4 — the verify step's
    # groupBy(doc_a, doc_b) collapsed them (output was never wrong),
    # but each extra candidate row shuffles its two shingle-set legs
    # again, exactly the multiplicity-scaled cost this guard exists to
    # remove. element_at stays in bounds under ANSI: the when(band > j)
    # branch is evaluated only where the eb slice has band >= j+1
    # elements (CaseWhen branches are lazy per row).
    first_match = F.lit(True)
    for j in range(n_bands - 1):
        eq = F.element_at("_ba", j + 1) == F.element_at("_bb", j + 1)
        first_match = first_match & F.when(F.col("band") > j, ~eq).otherwise(
            F.lit(True)
        )
    cand = pairs.where(first_match).select("doc_a", "doc_b")
    # exact-Jaccard verification: melt each pair into two (pair, doc_id)
    # legs and join the shingle sets back with ONE join, so the shingling
    # runs once and full-corpus array bytes are shuffled once (the
    # two-joins-by-side shape shuffles them twice). shuffle_hash hint:
    # Catalyst's size estimate derives from the (tiny) parquet file and
    # would BROADCAST the computed shingle arrays — a single-threaded
    # build of a many-MB hashed relation, and a non-starter at 100 TB.
    legs = cand.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    sh = sig.select("doc_id", "shingles").hint("shuffle_hash")
    sides = legs.join(sh, "doc_id").groupBy("doc_a", "doc_b").agg(
        F.first(
            F.when(F.col("doc_id") == F.col("doc_a"), F.col("shingles")), ignorenulls=True
        ).alias("sh_a"),
        F.first(
            F.when(F.col("doc_id") == F.col("doc_b"), F.col("shingles")), ignorenulls=True
        ).alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        sides.withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_incremental_pairs(
    existing: DataFrame,
    new: DataFrame,
    id_col: str,
    text: str,
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dedup GATE: candidate pairs for a NEW batch
    against an EXISTING corpus's band-bucket index only — the existing
    corpus is never re-paired against itself.

    The daily-crawl-increment path at 100 TB: the per-band bucket
    table over the existing corpus is what a production pipeline
    PERSISTS between runs (bucketed/partitioned by bucket hash on
    write); each incoming shard computes its own signatures (per-row,
    no shuffle), joins its band buckets against the stored index
    (co-partitioned on the bucket hash), and exact-verifies only the
    colliding (new, old) pairs. Cost per increment is proportional to
    the NEW batch's bucket collisions — sublinear in the corpus — vs
    the full self-pairing `minhash_lsh_pairs` re-run, which is the
    difference between a nightly job and an impossible one.

    Same md5-portable banding as `minhash_lsh_pairs` (buckets embed
    the band index so cross-band joins can't collide), same first-
    matching-band multiplicity guard (a pair colliding on several
    bands is emitted once, by a per-row predicate over the earlier
    band hashes — no distinct() over the pair stream), same
    shuffle_hash verify join (broadcasting computed shingle arrays is
    a non-starter).

    Returns (new_id, old_id, jaccard) with jaccard >= threshold.
    """
    n_bands = num_hashes // band_size

    def side(df: DataFrame) -> DataFrame:
        # shingle-less docs excluded the same way as minhash_lsh_pairs:
        # NULL-propagating band keys + post-explode isNotNull (shared
        # md5(str(b)) buckets would explode quadratically; the verify
        # join's 0/0 raises under ANSI)
        sig = minhash_signatures(df, id_col, text, n, num_hashes)
        bands = F.array(
            *[
                F.md5(
                    _band_concat(
                        F.lit(str(b)),
                        *[
                            F.col(f"mh{b * band_size + j}")
                            for j in range(band_size)
                        ],
                    )
                )
                for b in range(n_bands)
            ]
        )
        return sig.select(
            "doc_id",
            "shingles",
            bands.alias("bands"),
            F.posexplode(bands).alias("band", "bucket"),
        ).where(F.col("bucket").isNotNull())
    # per-row earlier-bands slice (same width cap as minhash_lsh_pairs):
    # the guard only ever reads hashes for bands < this row's band
    old_b = side(existing).select(
        F.col("doc_id").alias("old_id"),
        F.col("band"),
        F.col("bucket"),
        F.slice("bands", 1, F.col("band")).alias("_bo"),
    )
    new_b = side(new).select(
        F.col("doc_id").alias("new_id"),
        F.col("band"),
        F.col("bucket"),
        F.slice("bands", 1, F.col("band")).alias("_bn"),
    )
    cand_all = new_b.join(old_b, ["band", "bucket"])
    # first-matching-band emission: every earlier band must differ
    first_match = F.lit(True)
    for j in range(n_bands - 1):
        eq = F.element_at("_bn", j + 1) == F.element_at("_bo", j + 1)
        first_match = first_match & F.when(F.col("band") > j, ~eq).otherwise(
            F.lit(True)
        )
    cand = cand_all.where(first_match).select("new_id", "old_id")
    new_sh = (
        _doc_shingles(new, id_col, text, n)
        .select(F.col("doc_id").alias("new_id"), F.col("shingles").alias("sh_n"))
        .hint("shuffle_hash")
    )
    old_sh = (
        _doc_shingles(existing, id_col, text, n)
        .select(F.col("doc_id").alias("old_id"), F.col("shingles").alias("sh_o"))
        .hint("shuffle_hash")
    )
    sides = cand.join(new_sh, "new_id").join(old_sh, "old_id")
    inter = F.size(F.array_intersect("sh_n", "sh_o"))
    union = F.size("sh_n") + F.size("sh_o") - inter
    return (
        sides.withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "old_id", "jaccard")
    )


def simhash64(df: DataFrame, id_col: str, text: str) -> DataFrame:
    """32-bit SimHash fingerprint per document (Charikar 2002).

    Token hash = first 8 hex chars of md5 -> 32-bit int (via conv); each
    bit contributes +1/-1 weighted by token frequency; fingerprint bit =
    sign of the sum. Explode tokens -> groupBy doc -> per-bit conditional
    sums (one shuffle on doc_id; hash-aggregated, codegen'd — measured
    faster than the per-row 32-lambda-filter formulation, whose
    interpreted higher-order functions rescan the array per bit).
    """
    toks = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.lower(F.col(text)))).alias("tok"),
    )
    # drop the empty token: split(trim(x)) yields [""] for empty /
    # whitespace-only / NULL-free degenerate docs, which would give
    # EVERY such doc the identical md5("")-based fingerprint — on a
    # real corpus (empty docs are common at 100 TB) that is a
    # quadratic pair explosion whose OUTPUT itself is n^2, the same
    # class the minhash NULL-propagating band fix closed. Token-less
    # docs simply drop out of the fingerprint table (the shingle-less
    # minhash contract); mirrored as `tok <> ''` in the SQL oracle.
    toks = toks.where(F.col("tok") != "")
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    toks = toks.withColumn("h", h)
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(32)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    fp = sum(
        (F.when(F.col(f"b{i}") > 0, F.lit(2**i)).otherwise(F.lit(0)) for i in range(32)),
        F.lit(0).cast("long"),
    )
    return agg.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text: str, max_hamming: int = 3,
    bucket_chunk_size: int = 1024,
) -> DataFrame:
    """Near-dup pairs whose SimHash fingerprints differ in <= max_hamming
    bits. Candidate generation blocks on 4 x 8-bit bands (a pair within
    Hamming distance 3 of 32 bits must agree exactly on >=1 of 4 bands) —
    the standard pigeonhole trick, so no O(n^2) compare at scale.

    Join-free: fingerprints are grouped into (block -> members) lists and
    paired inside each block, so simhash64 (explode + 32-bit-sum shuffle,
    the dominant cost) runs exactly once; the 8-byte fingerprint rides
    along in the member struct, making verification in-place — the whole
    operator is the fingerprint shuffle + one small shuffle over
    (block, doc_id, fp) tuples.

    A pair within the Hamming radius can agree on SEVERAL bands; instead
    of a dropDuplicates shuffle over the pair stream, each pair is
    emitted only from its FIRST matching band (a per-row predicate —
    every earlier band must differ, testable in place because both
    fingerprints are in the pair row). Measured ~25% faster at sf0.1 and
    removes the one shuffle whose size scales with candidate
    multiplicity rather than corpus size.
    """
    fps = simhash64(df, id_col, text)
    bands = F.array(
        *[
            F.concat_ws(
                ":", F.lit(str(i)), (F.shiftright("simhash", i * 8).bitwiseAND(F.lit(255))).cast("string")
            )
            for i in range(4)
        ]
    )
    blocked = fps.select("doc_id", "simhash", F.explode(bands).alias("block"))
    member_lists = blocked.groupBy("block").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("docs")
    ).withColumn("band", F.split("block", ":")[0].cast("int"))
    # 8-bit bands mean <=1024 distinct blocks: the grouped relation is
    # BYTES-tiny but its pair explosion is CPU-quadratic per block, so
    # AQE's byte-based coalescing would serialize it onto one task —
    # explicit round-robin repartition restores parallelism (safe: each
    # surviving pair is emitted exactly once, by its first matching band).
    member_lists = member_lists.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    # second banding level for block occupancy: at 100 TB each of the
    # <=1024 blocks holds ~n/1024 docs, so within-block pairing is
    # quadratic in corpus size — chunk-pair rows bound the per-row
    # explosion at chunk_size^2 without changing the emitted pair set
    pairs = _chunked_bucket_pairs(
        member_lists, "docs", ["band"], bucket_chunk_size
    ).select(
        "band",
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.simhash").alias("h_a"),
        F.col("p.b.simhash").alias("h_b"),
    )
    first_match = F.lit(True)
    for j in range(3):
        slice_eq = (F.shiftright("h_a", j * 8).bitwiseAND(F.lit(255))) == (
            F.shiftright("h_b", j * 8).bitwiseAND(F.lit(255))
        )
        first_match = first_match & F.when(
            F.col("band") > j, ~slice_eq
        ).otherwise(F.lit(True))
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long")
    return (
        pairs.where(first_match)
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
