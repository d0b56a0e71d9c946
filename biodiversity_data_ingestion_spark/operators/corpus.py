"""Corpus-construction operators (BASELINE.json north-star extensions).

The stages that turn raw scored documents into a training corpus:

- connected components over a near-duplicate pair graph (cluster ids),
- retained-corpus extraction (drop every non-canonical cluster member),
- deterministic sequence packing (concat-then-split at a token budget),
- inverted index (term -> posting list) with document-frequency caps.

The reference has no graph/packing ops (its dedups are all single-key
window top-1s, SURVEY.md §2.4 A5-A7); these extend that family to the
multi-document near-dup clusters an LLM-training pipeline removes.

Scale notes: connected components is min-label propagation, one
co-partitioned join per round, converging in O(graph diameter) rounds
(pagerank, HITS, label propagation and k-core are the module's other
iterative graph operators). Near-dup graphs are unions of
small tight clusters (diameter a handful), so the loop is short; for
adversarial long-chain graphs the alternating large-star/small-star
contraction (Kiveris et al., "Connected Components in MapReduce and
Beyond") halves the rounds — same join shape, drop-in upgrade. Packing
and the inverted index are single-shuffle: a per-shard window cumsum
and a groupBy(term) respectively, with an explicit document-frequency
cap so a hot term cannot quadratically load one reducer.
"""

from __future__ import annotations

import warnings
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.partitioning import fan_out
from ..functions.textfn import tokenize


def _checks_convergence(rnd: int, max_rounds: int) -> bool:
    """Whether round ``rnd`` (0-based) of connected_components or k_core
    runs its convergence job.

    r15 (guide §1.2, r14 verdict #7): both loops track a monotone
    quantity (CC: sum of labels; k_core: edge count) that strictly
    decreases on any round that changes a row, so equality across TWO
    rounds proves both were identity rounds, and an identity round is
    idempotent — running up to one extra changes nothing. Past the first
    two rounds, where near-dup and real graphs converge, the check runs
    every second round, halving the per-round jobs on adversarial
    diameters. The last allowed round always checks, which keeps CC's
    non-root count and k_core's convergence warning exact.
    """
    return rnd < 2 or (rnd - 2) % 2 == 1 or rnd == max_rounds - 1


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    pointer_jump: bool = False,
    dedup_edges: bool = True,
    return_non_root_count: bool = False,
):
    """Connected components of the undirected graph given as an edge list.

    Min-label propagation: every node starts labelled with its own id;
    each round every node takes the min of its label and its neighbors'
    labels; fixpoint = each node labelled with the min id of its
    component. Returns (node, component).

    Each round is ONE hash-join of edges against labels on the node key
    plus a groupBy-min — both shuffle on the same key, so at scale the
    two exchanges line up and AQE reuses the partitioning. The label
    frontier is persisted for the first two rounds and
    localCheckpoint'ed after that: without the truncation the plan
    lineage doubles every iteration and the job graph blows up
    exponentially (the classic iterative-Spark trap).

    Convergence test: sum(labels) is a monotonically non-increasing
    integer, so one scalar aggregate per round detects the fixpoint
    exactly — no expensive DataFrame comparison.

    ``pointer_jump=True`` adds a label(u) <- label(label(u)) doubling
    step per round (one co-partitioned self-join of the label table):
    rounds drop from O(diameter) to O(log diameter) — the upgrade for
    adversarial long-chain graphs. Near-dup graphs are unions of tiny-
    diameter clusters, so the declared query keeps the cheaper plain
    propagation; the jumping variant is exercised by
    test_pointer_jump_converges_on_long_chain (200-node path, <= 25
    rounds, where plain propagation would need ~200). Every label is
    always some real node's id (labels start as own ids and only
    min-fold over other labels), so the jump join is total.

    ``return_non_root_count=True`` returns ``(labels, n_non_root)``
    where n_non_root = count of nodes whose label differs from their
    own id — i.e. the size of the drop list a near-dedup retain pass
    anti-joins away. It rides along in the per-round convergence
    aggregate (same scan, second scalar), so callers get the
    broadcast-gate bound for FREE instead of paying a separate count
    job over the converged frontier.
    """
    e = pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    edges = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    # Cache-first, as in _edge_cache: one exchange keyed on "s" IS the
    # materialization — HashPartitioning(s) satisfies the dedup
    # aggregate's ClusteredDistribution([s, d]) (subset rule), so the
    # optional distinct rides the same exchange, and the seed-fold
    # groupBy(s) below runs EXCHANGE-FREE over the cache.
    edges = edges.repartition("s")
    if dedup_edges:
        # duplicate edges don't change any min-fold, but they multiply
        # the per-round join fan-out; callers whose pair list is already
        # unique (every groupBy-produced pair graph) skip this dedup
        edges = edges.distinct()
    edges = edges.persist(_EDGE_CACHE_LEVEL)
    # The label frontier persists() for the first rounds and
    # localCheckpoints from round _CKPT_AFTER on. Why the split: in
    # this Spark build localCheckpoint(eager=False) still runs its job
    # at call time, so a checkpointed loop costs TWO jobs per round
    # (checkpoint + convergence agg), while a persisted frame
    # materializes lazily INSIDE the aggregate's job — one job per
    # round. But persist only flattens the PHYSICAL plan (cache lookup
    # happens at planning time); the LOGICAL plan still nests round
    # over round and, with the pointer-jump self-join, doubles per
    # round — 25 un-truncated rounds OOM the analyzer (observed on the
    # 200-node chain test). Near-dup graphs converge in 1-2 rounds, so
    # the fast persist path covers the common case and the checkpoint
    # path bounds plan growth for adversarial diameters. Measured ~2
    # jobs (~0.4 s fixed overhead) cheaper per CC call at sf0.1.
    # convergence aggregate carries the non-root count as a second
    # scalar over the same scan — the free broadcast-gate bound.
    # NOTE (r14): broadcasting the per-round label frontier (as pagerank/
    # hits/LPA do under the drop-list gate) was tried and REVERTED — the
    # frontier is the full O(nodes) label table rebuilt every round, and
    # the per-round broadcast build serialized a consistent +0.5-0.9 s
    # onto dedup_components across 3 A/B process-pairs; the edges-side
    # shuffle it saves is already co-partitioned round over round, so
    # there was nothing to win back.
    conv_agg = [
        F.sum("component"),
        F.sum((F.col("node") != F.col("component")).cast("long")),
    ]
    _CKPT_AFTER = 2  # rounds on the fast persist path before truncating
    labels = new_labels = None
    try:
        # Seed labels with one fold over direct neighbors (component0 =
        # min(self, neighbors)) — same shuffle the plain distinct() init
        # would cost, but it banks a full propagation round. Near-dup
        # clusters are cliques (every member pairs with every other), so the
        # seed fold alone reaches the fixpoint and the loop's first round is
        # pure convergence detection.
        labels = (
            edges.groupBy(F.col("s").alias("node"))
            .agg(F.least(F.min("s"), F.min("d")).alias("component"))
            .persist()
        )
        prev_sum, n_non_root = labels.agg(*conv_agg).first()
        for rnd in range(max_iter):
            neighbor_labels = edges.join(
                labels.withColumnRenamed("node", "d"), "d"
            ).select(F.col("s").alias("node"), "component")
            new_labels = (
                labels.unionByName(neighbor_labels)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
            if pointer_jump:
                parent = new_labels.select(
                    F.col("node").alias("component"), F.col("component").alias("_root")
                )
                new_labels = new_labels.join(parent, "component").select(
                    "node", F.col("_root").alias("component")
                )
            if rnd < _CKPT_AFTER:
                new_labels = new_labels.persist()
            else:
                # truncates the logical plan (LogicalRDD leaf); costs the
                # extra checkpoint job but bounds plan growth past the
                # common-case convergence horizon
                new_labels = new_labels.localCheckpoint(eager=False)
            if not _checks_convergence(rnd, max_iter):
                labels.unpersist()
                labels = new_labels
                continue
            new_sum, new_non_root = new_labels.agg(*conv_agg).first()
            # successor materialized — the parent cache can go
            labels.unpersist()
            labels, n_non_root = new_labels, new_non_root
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        # flatten the returned plan: downstream consumers embed the labels
        # in bigger trees (anti-joins, window keep-best), and a persisted
        # frame still carries its full lineage in the plan (breaking the
        # per-query exchange budgets and re-optimizing the loop's tree on
        # every consumer). The checkpoint job just reads the cache — cheap.
        final = labels.localCheckpoint()  # eager: materialized before unpersist
    finally:
        # every cache this call opened is released, whatever raised
        for frame in (new_labels, labels, edges):
            if frame is not None:
                frame.unpersist()
    if return_non_root_count:
        return final, int(n_non_root or 0)
    return final


# Broadcast-gate ceiling for drop-list anti-joins. Id-only rows are
# ~16-50 B serialized, so 4M rows is a 64-200 MB broadcast table — far
# above Catalyst's conservative 10 MB default (safe because we KNOW the
# frame is key-only), far below executor-memory trouble. On web-scale
# corpora near-dup drop rates of 30-50% are normal, so the drop list can
# be billions of ids: an unconditional broadcast OOMs executors at
# exactly the design point. Hence the gate.
DROP_LIST_BROADCAST_ROWS = 4_000_000

# Storage level for the iterative operators' pre-partitioned |edges|
# caches (r14 verdict #6, guide §5): MEMORY_AND_DISK with
# deserialized=False stores the columnar batches SERIALIZED — measured
# at 10x sf0.1: 196 MB vs 323 MB memory, fill 3.7 s vs 5.1-9.7 s,
# per-round read times flat — strictly less heap pressure at scale for
# free (the default deserialized level OOM'd an 8 GB-heap sf1 run).
_EDGE_CACHE_LEVEL = StorageLevel.MEMORY_AND_DISK


@contextmanager
def _edge_cache(edges: DataFrame, src: str, dst: str, key: str):
    """The edge cache, node table and gate shared by pagerank, HITS and
    label propagation.

    Yields ``(e, nodes, n_nodes, hint, rekey)``:

    - ``e``: the ``(e_src, e_dst)`` edge list, hash-partitioned by
      ``key`` and persisted at ``_EDGE_CACHE_LEVEL``. It IS the edge
      materialization: every later read (nodes, degrees, each round)
      hits the cache, so an expensive edge build (the co-purchase
      basket-pair explode) runs once, not per consumer per round
      (measured 10.8 s -> ~7 s at sf0.1).
    - ``nodes``: the distinct endpoints, eagerly localCheckpoint'ed, and
      ``n_nodes`` their count (a scalar, so "never collect" still holds).
    - ``hint``: ``n_nodes <= DROP_LIST_BROADCAST_ROWS``, i.e. the node
      table provably fits a broadcast (the gated regime).
    - ``rekey(frame, by)``: a persisted copy of ``frame`` partitioned by
      ``by``, filled from the cache (a columnar read plus one exchange,
      never a second run of the raw edge build).

    Why a pre-partitioned persist (r14/r15): callers key the cache by
    the column their rounds GROUP on when gated (the broadcast frontier
    join preserves partitioning, so the rounds run exchange-free) and by
    the column they JOIN on when not (the sort-merge join then exchanges
    only the O(nodes) side) — one |edges| exchange paid once replaces
    one or two per round (guide §2.4). persist, not localCheckpoint:
    under AQE a LogicalRDD reports UnknownPartitioning, while an
    InMemoryRelation keeps the cached plan's partitioning (verified on
    this build: zero Exchange above the InMemoryTableScan in a gated
    round). Filling the cache straight from the edge build also dropped
    an intermediate localCheckpoint that held |edges| rows deserialized
    for the loop's lifetime (an 8 GB-heap sf1 run OOM'd there). A/B in
    alternating fresh processes: pagerank sf0.1 4/5 pairs (medians
    3.73 -> 3.47 s), sf1 3/3 (16.9 -> 8.1 s); label propagation sf0.1
    4/5 (3.42 -> 3.32 s), sf1 3/3 (22.0 -> 15.3 s).

    Every cache this scope opens is released on exit, whatever raised.
    Callers therefore run their final round EAGERLY inside the scope:
    an exchange-free round's last stage otherwise runs at consume time,
    after the release, and recomputes the edges.
    """
    caches = []

    def rekey(frame: DataFrame, by: str) -> DataFrame:
        cached = frame.repartition(by).persist(_EDGE_CACHE_LEVEL)
        caches.append(cached)
        return cached

    try:
        e = rekey(
            edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")),
            key,
        )
        nodes = (
            e.select(F.col("e_src").alias("node"))
            .unionByName(e.select(F.col("e_dst").alias("node")))
            .distinct()
            .localCheckpoint()
        )
        n_nodes = nodes.count()
        yield e, nodes, n_nodes, n_nodes <= DROP_LIST_BROADCAST_ROWS, rekey
    finally:
        # newest first: dropping a cache before an unfilled copy of it
        # makes Spark re-plan the copy
        for cached in reversed(caches):
            cached.unpersist()


def gated_anti_join(
    docs: DataFrame,
    drop: DataFrame,
    key: str,
    max_broadcast_rows: int = DROP_LIST_BROADCAST_ROWS,
    drop_count: int | None = None,
) -> DataFrame:
    """docs MINUS (rows whose key appears in drop), with a broadcast
    hint applied only when the drop list is provably small.

    The post-iteration CC frontier carries no reliable Catalyst stats,
    so an unhinted plan may mis-pick; but an unconditional broadcast
    hint is the opposite failure — at a 30-50% near-dup drop rate the
    loser set is O(corpus) and force-broadcasting it OOMs executors.
    The gate hints broadcast only when the drop list is under
    ``max_broadcast_rows``; otherwise it leaves a plain shuffle
    ``left_anti`` for AQE to strategize. Pass ``drop_count`` when an
    upper bound is already known (connected_components returns the
    non-root count for free inside its convergence aggregate) — then
    the gate costs ZERO extra jobs; otherwise one cheap count over the
    already-localCheckpoint'ed frame is paid.
    """
    n = drop_count if drop_count is not None else drop.count()
    if n <= max_broadcast_rows:
        drop = F.broadcast(drop)
    return docs.join(drop, key, "left_anti")


def near_dedup_retained(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_broadcast_rows: int = DROP_LIST_BROADCAST_ROWS,
) -> DataFrame:
    """The corpus that survives near-duplicate removal: one canonical
    document (the min-id member) per duplicate cluster, plus every
    document that was in no cluster at all.

    Composition of connected_components + a left_anti join (the same
    anti-join shape as the reference's incremental gate, SURVEY.md §2.3
    J2) — the non-canonical members form the drop list, anti-joined via
    :func:`gated_anti_join` (broadcast only when provably small).
    """
    # pair lists from the dedup operators are groupBy-unique => skip the
    # edge-dedup exchange; the CC convergence aggregate hands back the
    # drop-list size so the broadcast gate is free
    cc, n_losers = connected_components(
        pairs, dedup_edges=False, return_non_root_count=True
    )
    losers = cc.where(F.col("component") != F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return gated_anti_join(
        docs, losers, id_col, max_broadcast_rows, drop_count=n_losers
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text: str,
    budget: int,
    shard_chars: int = 1,
) -> DataFrame:
    """Deterministic concat-then-split sequence packing.

    Documents are routed to 16^shard_chars shards by an md5 prefix of
    their id, concatenated in id order within each shard, and split at
    every `budget` tokens: a document belongs to the chunk its START
    offset falls in (chunks may overrun by less than one document — the
    standard concat+split packing used for LLM pretraining batches).

    One window cumsum per shard (a single hash-partition shuffle; the
    per-shard sort is the window's, no global sort). Shard count is the
    parallelism knob: at 100 TB raise shard_chars so each shard's token
    stream fits one task comfortably.

    Returns (id, shard, n_toks, cum_tokens, chunk_id).
    """
    shard = F.substring(F.md5(F.col(id_col).cast("string")), 1, shard_chars)
    n_toks = F.size(tokenize(F.lower(F.trim(F.col(text)))))
    base = fan_out(df).select(
        F.col(id_col),
        shard.alias("shard"),
        n_toks.cast("long").alias("n_toks"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_toks").over(w)
    return base.withColumn("cum_tokens", cum).withColumn(
        "chunk_id",
        F.floor((F.col("cum_tokens") - F.col("n_toks")) / F.lit(float(budget))),
    )


def inverted_index(
    df: DataFrame,
    id_col: str,
    text: str,
    min_df: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Term -> posting-list inverted index over tokenized documents.

    explode(distinct tokens per doc) -> groupBy(term) -> doc_freq +
    sorted posting list (comma-joined for deterministic comparison).
    `min_df`/`max_df` bound the posting lists: at web scale the
    stop-term postings are the skew hazard (one reducer holding a list
    proportional to the corpus), and df-capping is the standard fix —
    same guard as the hot-shingle cap in ngram_jaccard_pairs.

    Returns (term, doc_freq, postings).
    """
    toks = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokenize(F.lower(F.trim(F.col(text)))))).alias(
            "term"
        ),
    )
    out = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias("postings"),
    )
    out = out.where(F.col("doc_freq") >= min_df)
    if max_df is not None:
        out = out.where(F.col("doc_freq") <= max_df)
    return out


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text: str,
    n_queries: int = 3,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval: top-``k`` documents per query term (Robertson/
    Sparck-Jones idf, Lucene's +1 smoothing) — the ranking half of the
    inverted-index story, the retrieval primitive data-curation
    pipelines use to pull topical slices out of a corpus.

    The query set is DATA-DERIVED for determinism: the ``n_queries``
    highest-df terms (tie -> term order). Scale shape: the tiny
    query-term relation and the 1-row corpus stats broadcast, so the
    per-(doc, term) tf relation streams map-side through the
    query-term filter and only the MATCHED postings reach the dl join
    and the per-term ranking window — shuffle is bounded by the query
    terms' posting lists, never the corpus. A PARTIAL TOP-K per
    (term, scan shard) runs before the final ranking window, so a
    pathological query term (df ~ corpus size) feeds the single-window
    partition at most n_shards * k rows instead of its whole posting
    list.

    Ranking sorts by the ROUNDED score (4 dp) with a doc_id tiebreak so
    the order is reproducible bit-for-bit against a SQL oracle — raw
    double scores differ across engines in the last ulp (libm ln).
    Returns (q_term, doc_id, bm25, rank).
    """
    toks = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.lower(F.trim(F.col(text))))).alias("term"),
    )
    # tf feeds FOUR consumers (dl, corpus stats, df, the scored join):
    # the lazy checkpoint materializes the corpus scan + tokenize +
    # count shuffle ONCE instead of once per branch (4 scans -> 1)
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).localCheckpoint(eager=False)
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    qt = dfreq.orderBy(F.desc("df"), "term").limit(n_queries)
    scored = (
        tf.join(F.broadcast(qt), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "bm25",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                ),
                4,
            ),
        )
    )
    # PARTIAL TOP-K before the per-term ranking window: a pathological
    # query term (df ~ corpus size) would otherwise serialize its whole
    # posting list into ONE window partition. Pre-ranking within
    # (term, shard) — shard = current scan partition — caps what the
    # final window sees at n_shards * k rows per term, and the true
    # global top-k provably survives (each of its rows ranks <= k
    # inside its own shard). Result is partitioning-invariant because
    # the final window re-ranks with the same deterministic order.
    w_pre = Window.partitionBy("term", "_shard").orderBy(
        F.desc("bm25"), F.asc("doc_id")
    )
    pre = (
        scored.withColumn("_shard", F.spark_partition_id())
        .withColumn("_pre_rank", F.row_number().over(w_pre))
        .where(F.col("_pre_rank") <= k)
    )
    w = Window.partitionBy("term").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        pre.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(F.col("term").alias("q_term"), "doc_id", "bm25", "rank")
    )


def contamination_report(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text: str,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: training documents sharing >=1 word
    n-gram with any benchmark document, with the count of shared
    distinct n-grams. The overlap check run before a training corpus
    ships (test-set leakage detection).

    Shape: the benchmark n-gram set is DISTINCT'd and broadcast —
    benchmark suites are tiny next to a 100 TB corpus, so the training
    side streams map-side through a broadcast hash semi-join and the
    only shuffle is the per-doc overlap count. Both sides hash their
    n-grams to 64-bit (shingle_hash64, the same shuffle/broadcast-width
    lever as the near-dup inverted index): the broadcast set carries 8
    bytes per n-gram instead of the text, ~4x more benchmark before
    the broadcast ceiling. The oracle hashes identically so collisions
    merge the same n-grams on both engines. Returns
    (id, n_shared_ngrams).
    """
    from ..functions.hashing import shingle_hash64, word_shingles

    t = fan_out(train).select(
        F.col(id_col),
        F.explode_outer(
            shingle_hash64(word_shingles(tokenize(F.lower(F.trim(F.col(text)))), n))
        ).alias("ngram"),
    ).where(F.col("ngram").isNotNull())
    b = (
        bench.select(
            F.explode_outer(
                shingle_hash64(
                    word_shingles(tokenize(F.lower(F.trim(F.col(text)))), n)
                )
            ).alias("ngram")
        )
        .where(F.col("ngram").isNotNull())
        .distinct()
    )
    return (
        t.join(F.broadcast(b), "ngram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def _bpe_rounds(
    docs: DataFrame,
    text: str = "text",
    n_rounds: int = 3,
):
    """Distributed BPE tokenizer TRAINING — n_rounds of merge learning,
    not just one pair count. Per round: (1) adjacent-symbol pair counts
    weighted by word frequency (the only shuffle, bounded by |vocab| x
    word length); (2) deterministic argmax (count desc, pair lexical
    tie-break) kept as a 1-row frame and broadcast — the chosen pair
    never touches the driver; (3) every vocab word replays the merge as
    a LEFT-TO-RIGHT NON-OVERLAPPING fold over its symbol array — pure
    Catalyst `aggregate` with a (out, carry) struct accumulator, no
    regex, no Python, no shuffle. Vocab is localCheckpoint'ed per round
    so the iteration's lineage stays flat (same pattern as k-means /
    connected components).

    Matches the sequential reference algorithm exactly (unit-tested
    against a dict-based Python BPE), and the SQL oracle replays the
    same rounds with a window-parity formulation of the L2R merge.
    Returns (rnd, sym_a, sym_b, pair_count): the learned merge table.
    """
    words = F.split(F.trim(F.lower(F.col(text))), r"\s+")
    vocab = (
        docs.select(F.explode(words).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("w_count"))
        .select("word", F.split("word", "").alias("syms"), "w_count")
        .localCheckpoint(eager=False)
    )

    def _merge_fold(syms, a, b):
        init = F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("carry"),
        )

        def step(acc, s):
            is_merge = (
                acc["carry"].isNotNull() & (acc["carry"] == a) & (s == b)
            )
            out = F.when(
                is_merge, F.concat(acc["out"], F.array(F.concat(a, b)))
            ).otherwise(
                F.when(
                    acc["carry"].isNotNull(),
                    F.concat(acc["out"], F.array(acc["carry"])),
                ).otherwise(acc["out"])
            )
            carry = F.when(is_merge, F.lit(None).cast("string")).otherwise(s)
            return F.struct(out.alias("out"), carry.alias("carry"))

        def fin(acc):
            return F.when(
                acc["carry"].isNotNull(),
                F.concat(acc["out"], F.array(acc["carry"])),
            ).otherwise(acc["out"])

        return F.aggregate(syms, init, step, fin)

    rounds = []
    for rnd in range(1, n_rounds + 1):
        pairs = F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at("syms", i).alias("a"),
                F.element_at("syms", i + 1).alias("b"),
            ),
        )
        best = (
            vocab.where(F.size("syms") >= 2)
            .select(F.explode(pairs).alias("p"), "w_count")
            .groupBy(F.col("p.a").alias("sym_a"), F.col("p.b").alias("sym_b"))
            .agg(F.sum("w_count").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "sym_a", "sym_b")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        rounds.append(best.withColumn("rnd", F.lit(rnd).cast("long")))
        # LEFT join the (0-or-1)-row best on a constant key, not a
        # crossJoin: when a round has no mergeable pair left (every word
        # already one symbol, or empty corpus) a crossJoin against the
        # empty best would annihilate the whole vocab and silently zero
        # the encoder output. With the left join m_a is null and the
        # fold no-ops, which is exactly sequential BPE's "no more
        # merges" behavior.
        best_row = best.select(
            F.lit(1).alias("_k"),
            F.col("sym_a").alias("m_a"),
            F.col("sym_b").alias("m_b"),
        )
        vocab = (
            vocab.withColumn("_k", F.lit(1))
            .join(F.broadcast(best_row), "_k", "left")
            .select(
                "word",
                F.when(F.col("m_a").isNull(), F.col("syms"))
                .otherwise(
                    _merge_fold(F.col("syms"), F.col("m_a"), F.col("m_b"))
                )
                .alias("syms"),
                "w_count",
            )
            .localCheckpoint(eager=False)
        )
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out.select("rnd", "sym_a", "sym_b", "pair_count"), vocab


def bpe_train_merges(
    docs: DataFrame, text: str = "text", n_rounds: int = 3
) -> DataFrame:
    """The learned merge table (rnd, sym_a, sym_b, pair_count) — see
    `_bpe_rounds` for the algorithm."""
    merges, _vocab = _bpe_rounds(docs, text, n_rounds)
    return merges


def bpe_encode_vocab(
    docs: DataFrame, text: str = "text", n_rounds: int = 3
) -> DataFrame:
    """Tokenizer APPLY: every distinct word encoded with the learned
    merges — train and apply in one lineage (the vocab IS the frame the
    merges were folded over, so no re-encoding pass is needed; at scale
    the encoded vocab joins back to the corpus by word, which is how
    production tokenizer application amortizes: encode |vocab| words
    once, not |corpus| tokens). Returns (word, n_bpe_tokens, encoded)
    with `encoded` the space-joined BPE symbols."""
    _merges, vocab = _bpe_rounds(docs, text, n_rounds)
    return vocab.select(
        "word",
        F.size("syms").cast("long").alias("n_bpe_tokens"),
        F.array_join("syms", " ").alias("encoded"),
    )


PAGERANK_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    damping_num: int = 17,
    damping_den: int = 20,
) -> DataFrame:
    """Deterministic FIXED-POINT PageRank over a directed edge list,
    the third iterative graph primitive next to connected components
    and triangle counting. Ranks are kept as ``PAGERANK_SCALE``-
    denominated bigints and every step is integer arithmetic
    (``div`` = floor division, damping = damping_num/damping_den, the
    0.85 default), so the trajectory is BIT-EXACT: independent of
    partitioning, of float accumulation order, and of the engine — a
    plain SQL replay (chained CTEs, one per iteration) reproduces it
    hash-exactly. The earlier double formulation rounded to 12dp per
    round, which was partition-independent only up to a rounding-
    boundary race; fixed-point removes the race class entirely.

    Per iteration: contributions shuffle on the destination id (the
    only large exchange, size = |edges|); the dangling-node mass and
    the node count are 1-row aggregates broadcast via cross join,
    never collected. Lineage flattened per round with lazy
    localCheckpoint.

    Update rule (all integer ops, non-negative operands so floor ==
    trunc in every engine):

        base      = ((den-num) * SCALE) div (den * n)
        contrib_v = sum over in-edges (u,v) of (r_u div out_deg_u)
        r_v'      = base + (num * (contrib_v + dangling div n)) div den

    Floor losses mean sum(rank) drifts slightly below 1 — the price of
    exactness. Bound: each sender loses < out_deg units per round to
    ``r div out_deg`` (|edges| units total) and each node < 1 unit to
    each of the base and damping floors, so the drift is at most
    n_iter * (|edges| + 2n) / SCALE (measured 1.9e-8 on a 200-node /
    ~6k-edge graph over 3 rounds — the independent-replay test pins
    this envelope).

    Returns (node, rank) with rank = fixed/SCALE as double (exact:
    fixed < 2^53 and SCALE is a representable power of ten, so the
    division is correctly rounded identically everywhere).

    EXECUTION NOTE: this builder is EAGER, not a lazy plan — its final
    round's localCheckpoint(eager=True) runs all ``n_iter`` rounds at
    call time (why: :func:`_edge_cache`). Callers composing plans should
    expect the work to happen here, not at the first action.
    """
    num, den, scale = damping_num, damping_den, PAGERANK_SCALE
    # keyed on the contribution groupBy key (the gated regime)
    with _edge_cache(edges, src, dst, "e_dst") as (e, nodes, n_nodes, hint, rekey):
        if n_nodes == 0:
            # empty graph: no nodes, no ranks — and no division by zero in
            # the plan literals below
            return nodes.select(
                "node", F.lit(None).cast("double").alias("rank")
            )
        # out-degrees are read TWICE per round (contribution join +
        # dangling filter): materialize the |nodes|-sized table once
        # instead of re-running the |edges|-sized groupBy up to 2 x n_iter
        # times
        deg = (
            e.groupBy(F.col("e_src").alias("deg_node"))
            .agg(F.count(F.lit(1)).alias("out_deg"))
            .localCheckpoint()
        )
        # Gated broadcast of the rank frontier into the contribution join
        # (the gated_anti_join pattern): when the node table provably
        # fits a broadcast, the |edges| side never shuffles. Under the
        # same gate the degree table and each round's contrib result
        # broadcast too, so the rank frontier and the node table (both
        # checkpointed RDDs) never re-shuffle and the contribution
        # groupBy is the only per-round exchange left (guide §2.4).
        # Above the ceiling, plain shuffle joins and AQE strategizes (the
        # 100 TB path, where ranks are O(nodes) and cannot broadcast).
        if hint:
            deg = F.broadcast(deg)
        else:
            # re-key on the sender join key, then drop the mis-keyed cache
            e_r = rekey(e, "e_src")
            e_r.count()
            e.unpersist()
            e = e_r
        ranks = nodes.select(
            "node", F.lit(scale // n_nodes).cast("long").alias("r")
        ).localCheckpoint(eager=False)
        base = (den - num) * scale // (den * n_nodes)
        for it in range(n_iter):
            with_deg = ranks.join(
                deg, ranks["node"] == deg["deg_node"], "left"
            ).drop("deg_node")
            senders = with_deg.where(F.col("out_deg").isNotNull())
            if hint:
                senders = F.broadcast(senders)
            contribs = (
                senders.join(e, F.col("node") == F.col("e_src"))
                .groupBy(F.col("e_dst").alias("node"))
                .agg(F.sum(F.expr("r div out_deg")).alias("contrib"))
            )
            dangling = (
                with_deg.where(F.col("out_deg").isNull())
                .agg(
                    F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dangling_r")
                )
            )
            ranks = (
                nodes.join(
                    F.broadcast(contribs) if hint else contribs,
                    "node",
                    "left",
                )
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    F.expr(
                        f"CAST({base}"
                        f" + ({num} * (coalesce(contrib, 0)"
                        f"             + dangling_r div {n_nodes})) div {den}"
                        " AS BIGINT)"
                    ).alias("r"),
                )
                # final round EAGER, inside the cache scope (_edge_cache)
                .localCheckpoint(eager=(it == n_iter - 1))
            )
    return ranks.select(
        "node", (F.col("r") / F.lit(float(scale))).alias("rank")
    )


def k_core(
    edges: DataFrame,
    k: int,
    u: str = "u",
    v: str = "v",
    max_rounds: int = 8,
    strict: bool = False,
) -> DataFrame:
    """k-core decomposition by iterative peeling: drop every node whose
    degree falls below ``k``, recompute degrees on the surviving edges,
    repeat until stable (or ``max_rounds``) — the fourth iterative
    graph primitive next to connected components, triangle counting and
    PageRank. The k-core is the standard density filter before
    community detection and the graph analogue of a quality gate.

    DETERMINISM: the peel is pure integer arithmetic (degree counts and
    comparisons), so the surviving node set after any number of rounds
    is engine- and partition-exact; the oracle unrolls ``max_rounds``
    chained CTE rounds and matches hash-for-hash — post-convergence
    rounds are identity on both sides, so early convergence in Spark
    never diverges from the fixed unroll.

    Scale: each round is one degree aggregation (map-side combinable)
    plus two semi-joins of the edge list against the survivor set —
    shuffle is edges + nodes per round, no quadratic term anywhere.
    Rounds are localCheckpoint'ed (the convergence count materializes
    each round anyway, same pattern as connected_components), so the
    logical plan stays flat instead of nesting per round.

    CONVERGENCE HONESTY: if the LAST allowed round still removed edges,
    the peel is not confirmed stable and the result may be a SUPERSET
    of the true k-core. That state is surfaced — logged as a warning by
    default, raised as ``ValueError`` under ``strict=True`` — using the
    per-round edge count the checkpoint already materializes, so the
    check costs nothing. Converged runs are bit-identical to before.

    Edges must be undirected-simple: one row per pair, ``u`` < ``v``.
    Returns the surviving (node, degree) rows.
    """
    cur = edges.select(F.col(u).alias("u"), F.col(v).alias("v")).localCheckpoint(
        eager=False
    )
    n_edges = cur.count()
    converged = n_edges == 0
    # per-round edge counts follow _checks_convergence; on skipped
    # rounds the broadcast gate uses the previous (larger) count — a
    # conservative bound, it can only UNDER-broadcast
    for rnd in range(max_rounds):
        if n_edges == 0:
            converged = True
            break
        deg = (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("node")
        # keep has at most 2*n_edges rows (one per endpoint), and
        # n_edges is counted on checked rounds anyway — a free broadcast
        # gate (same ceiling as gated_anti_join). Broadcasting the
        # survivor set means the edge table never re-shuffles: the
        # per-round exchanges drop from three (degree groupBy + two
        # semi-join repartitions of cur) to the degree groupBy alone.
        keep_u = keep.select(F.col("node").alias("u"))
        keep_v = keep.select(F.col("node").alias("v"))
        if 2 * n_edges <= DROP_LIST_BROADCAST_ROWS:
            keep_u, keep_v = F.broadcast(keep_u), F.broadcast(keep_v)
        nxt = (
            cur.join(keep_u, "u", "left_semi")
            .join(keep_v, "v", "left_semi")
            .localCheckpoint(eager=False)
        )
        cur = nxt
        if not _checks_convergence(rnd, max_rounds):
            continue
        n_next = nxt.count()
        if n_next == n_edges:
            converged = True
            break  # stable: every endpoint already has degree >= k
        n_edges = n_next
    # an empty edge set is converged even when reached exactly on the
    # final allowed round (range exhaustion): the empty k-core is exact
    if n_edges == 0:
        converged = True
    if not converged:
        msg = (
            f"k_core did not confirm convergence within max_rounds="
            f"{max_rounds} (the final round still removed edges); the "
            f"result may be a superset of the true {k}-core — raise "
            f"max_rounds to converge (strict=True makes this an error)"
        )
        if strict:
            raise ValueError(msg)
        warnings.warn(msg, stacklevel=2)
    return (
        cur.select(F.col("u").alias("node"))
        .unionAll(cur.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .where(F.col("degree") >= k)
    )


HITS_SCALE = 10**6


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
) -> DataFrame:
    """Deterministic FIXED-POINT HITS (hubs & authorities) over a
    directed edge list — the fifth iterative graph primitive next to
    connected components, triangles, PageRank and k-core, and the
    classic bipartite ranking (who are the hub buyers, which are the
    authority products).

    Same exactness contract as :func:`pagerank`: scores are
    ``HITS_SCALE``-denominated bigints, every step integer arithmetic,
    so the trajectory is bit-exact across partitionings and engines and
    a chained-CTE SQL replay reproduces it hash-for-hash. Kleinberg's
    L2 normalization is replaced by L1 (divide by the SUM of raw
    scores, floor division) — same fixed direction, rational
    arithmetic. SCALE is deliberately small (1e6): the normalization
    multiplies raw sums (<= SCALE * max_degree) by SCALE before the
    floor-div, and both factors must stay well inside int64 in Spark
    AND DuckDB.

    Per round (auth from hub, then hub from NEW auth — the standard
    ordering):

        a_raw(v) = sum over in-edges (u,v) of h(u)
        a(v)     = (a_raw(v) * SCALE) div sum_v(a_raw)
        h_raw(u) = sum over out-edges (u,v) of a(v)
        h(u)     = (h_raw(u) * SCALE) div sum_u(h_raw)

    Shuffles: the |edges| table is pre-partitioned ONCE per grouping key
    (two persisted caches, r15 — see the comment at the build site), so
    each half-round's groupBy reuses a matching partitioning instead of
    re-exchanging |edges|; the L1 norms are 1-row aggregates broadcast
    via cross join, never collected. Rank frontiers are broadcast into
    the edge joins when the node table provably fits (same gate as
    pagerank); lineage flattened per round with lazy localCheckpoint.

    Returns (node, hub, auth) with fixed/SCALE as double (exact: both
    fit 2^53 and SCALE is a power of ten).

    EXECUTION NOTE: this builder is EAGER, not a lazy plan — its final
    round's localCheckpoint(eager=True) runs all ``n_iter`` rounds at
    call time (why: :func:`_edge_cache`). Callers composing plans should
    expect the work to happen here, not at the first action.
    """
    if n_iter < 1:
        raise ValueError("hits: n_iter must be >= 1")
    scale = HITS_SCALE
    # r15 (VERDICT r14 #1): TWO-SIDED pre-partitioned edge caches. The
    # r14 SINGLE-key cache was reverted 6/6 pairs because HITS
    # alternates its grouping key per half-round, so one key served only
    # half the halves while every half paid the cache read. Keeping one
    # persisted cache PER KEY lets every half-round reuse a matching
    # partitioning (guide §2.4): gated, each half groups on its cache's
    # key EXCHANGE-FREE (the broadcast frontier join preserves
    # partitioning — subplans plans/r15/hits_{auth,hub}half_gated_*:
    # 1 Exchange -> 0 per half); ungated (the 100 TB regime), each
    # half's SMJ pre-partitions the |edges| side by the JOIN key, so
    # only the O(nodes) frontier exchanges per half (subplans
    # plans/r15/hits_*_ungated_*: the |edges| exchange moves into the
    # paid-once cache build) — 6 per-run |edges| exchanges traded for 2.
    # A/B at sf0.1 (5 pairs, 3/5, medians 4.23 vs 4.02) and 10x sf1
    # (4 pairs, 2/4) is FLAT locally — kept on the structural argument,
    # the r14 change-3/5 precedent. A salted two-level variant (cache
    # partitioned by (key, salt), two-stage sum to keep distributed
    # combining on a hot key, guide §2.5) was measured 3/3 pairs ~2.4x
    # WORSE at sf0.1 (medians 4.54 vs 11.08 — an extra per-half exchange
    # on a uniform-degree graph buys nothing) and dropped; the gate
    # bounds the exchange-free-regime graph at DROP_LIST_BROADCAST_ROWS
    # nodes, which caps how bad one hot partition can get.
    with _edge_cache(edges, src, dst, "e_dst") as (
        e_by_dst, nodes, n_nodes, hint, rekey
    ):
        if n_nodes == 0:
            return nodes.select(
                "node",
                F.lit(None).cast("double").alias("hub"),
                F.lit(None).cast("double").alias("auth"),
            )
        # the src-keyed twin fills lazily, in the first half that reads it
        e_by_src = rekey(e_by_dst, "e_src")

        def _half(
            frontier: DataFrame,
            score: str,
            out_key: str,
            in_key: str,
            checkpoint: bool,
            eager: bool = False,
        ):
            """One half-round: push `score` along edges from `out_key` to
            `in_key`, L1-normalize onto the full node set. Only the HUB
            half checkpoints: the auth frame is consumed exactly once (by
            the hub half that follows), so truncating lineage there would
            double the checkpoint jobs for a fixed depth-2 plan chain."""
            f = F.broadcast(frontier) if hint else frontier
            # gated: pick the cache partitioned by this half's GROUPING
            # key (broadcast joins preserve it -> groupBy exchange-free);
            # ungated: by this half's JOIN key (SMJ exchanges only the
            # O(nodes) frontier side)
            pick = in_key if hint else out_key
            edge = e_by_dst if pick == "e_dst" else e_by_src
            raw = (
                f.join(edge, F.col("node") == F.col(out_key))
                .groupBy(F.col(in_key).alias("node"))
                .agg(F.sum(score).alias("raw"))
            )
            norm = raw.agg(
                F.coalesce(F.sum("raw"), F.lit(0)).cast("long").alias("l1")
            )
            out = (
                # raw is <= |nodes| rows of (node, sum): under the same
                # gate as the frontier broadcast, build it as the hash
                # side so the checkpointed node table never re-shuffles
                # per half-round
                nodes.join(F.broadcast(raw) if hint else raw, "node", "left")
                .crossJoin(F.broadcast(norm))
                .select(
                    "node",
                    F.expr(
                        f"CAST(CASE WHEN l1 = 0 THEN 0 "
                        f"ELSE (coalesce(raw, 0) * {scale}) div l1 END AS BIGINT)"
                    ).alias(score),
                )
            )
            return out.localCheckpoint(eager=eager) if checkpoint else out

        hubs = nodes.select(
            "node", F.lit(scale // n_nodes).cast("long").alias("h")
        ).localCheckpoint(eager=False)
        for i in range(n_iter):
            last = i == n_iter - 1
            # the final round's auth frame feeds the returned join, so it
            # gets the lineage truncation the intermediate ones skip; the
            # final halves are EAGER, inside the cache scope (_edge_cache)
            auths = _half(
                hubs, "h", "e_src", "e_dst",
                checkpoint=last, eager=last,
            ).withColumnRenamed("h", "a")
            hubs = _half(
                auths, "a", "e_dst", "e_src",
                checkpoint=True, eager=last,
            ).withColumnRenamed("a", "h")
    return (
        hubs.join(auths, "node")
        .select(
            "node",
            (F.col("h") / F.lit(float(scale))).alias("hub"),
            (F.col("a") / F.lit(float(scale))).alias("auth"),
        )
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
) -> DataFrame:
    """Deterministic SYNCHRONOUS label propagation (community
    detection) over an undirected edge list — the sixth iterative graph
    primitive next to connected components, triangles, PageRank, k-core
    and HITS. Callers pass the symmetric edge set (both directions),
    exactly like :func:`k_core`.

    Classic LPA (Raghavan et al. 2007) breaks ties randomly and updates
    asynchronously — useless as a distributed, replayable semantics.
    This is the standard deterministic variant: a FIXED number of
    synchronous rounds, every node simultaneously adopting the label
    carried by the most neighbors, ties broken toward the SMALLEST
    label. All-integer state, so the trajectory is bit-exact across
    partitionings and engines and a chained-CTE SQL replay reproduces
    it hash-for-hash (same exactness contract as :func:`pagerank`).

    Per round:

        cnt(v, l) = |{u : (v,u) in edges, label(u) = l}|
        label'(v) = argmax_l (cnt(v, l), -l)    [max count, min label]

    Shuffles: the neighbor-label join keyed on the edge endpoint (the
    only |edges|-sized exchange; the label frontier broadcasts under
    the pagerank gate when the node table provably fits), the
    (node, label) count, and a node-partitioned row_number window —
    never a global window. Lineage flattened per round with lazy
    localCheckpoint. Isolated nodes (none in a symmetric edge list,
    but the left join keeps the semantics total) retain their label.

    Returns (node, community) — community = the propagated label.

    EXECUTION NOTE: this builder is EAGER, not a lazy plan — its final
    round's localCheckpoint(eager=True) runs all ``n_iter`` rounds at
    call time (why: :func:`_edge_cache`). Callers composing plans should
    expect the work to happen here, not at the first action.
    """
    if n_iter < 1:
        raise ValueError("label_propagation: n_iter must be >= 1")
    # keyed on the key every round groups on (the gated regime)
    with _edge_cache(edges, src, dst, "e_src") as (e, nodes, n_nodes, hint, rekey):
        if n_nodes == 0:
            # cast matches the non-empty path (labels init as long): the
            # output schema must not depend on whether the input was empty
            return nodes.select(
                "node", F.col("node").cast("long").alias("community")
            )
        if not hint:
            # re-key on the join key, then drop the mis-keyed cache
            e2 = rekey(e, "e_dst")
            e2.count()
            e.unpersist()
            e = e2
        labels = nodes.select(
            "node", F.col("node").cast("long").alias("label")
        ).localCheckpoint(eager=False)
        for it in range(n_iter):
            f = F.broadcast(labels) if hint else labels
            counts = (
                e.join(f, F.col("e_dst") == F.col("node"))
                .groupBy(F.col("e_src"), F.col("label"))
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            # argmax as a struct MAX instead of a row_number window: max
            # count, ties toward the SMALLEST label == max of (cnt, -label)
            # — identical winner (labels are non-null bigints), but the
            # aggregate partially combines map-side and skips the window's
            # per-partition sort, so the second exchange carries one row
            # per node instead of one per (node, label) (guide §2.3:
            # aggregate before you shuffle).
            winner = (
                counts.groupBy("e_src")
                .agg(
                    F.max(
                        F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                    ).alias("m")
                )
                .select(
                    F.col("e_src").alias("node"),
                    (-F.col("m.nl")).alias("new_label"),
                )
            )
            # broadcast the winner under the same gate as the frontier:
            # the label table (a checkpointed RDD) then never re-shuffles
            labels = (
                labels.join(
                    F.broadcast(winner) if hint else winner, "node", "left"
                )
                .select(
                    "node",
                    F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
                )
                # final round EAGER, inside the cache scope (_edge_cache)
                .localCheckpoint(eager=(it == n_iter - 1))
            )
    return labels.select("node", F.col("label").alias("community"))
