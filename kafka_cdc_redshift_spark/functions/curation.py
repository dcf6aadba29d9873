"""Corpus curation operators a large-scale training-data pipeline needs
beyond filtering/dedup: reproducible sampling, sequence packing, and
train/eval decontamination.

Scale design (100 TB of documents):
  * stratified_sample — hash-mod sampling: a pure map-side filter, no
    shuffle, and deterministic (the same doc is in/out of the sample on
    every run and every engine — unlike rand()-based sampleBy, which is
    neither reproducible nor oracle-checkable). Stratum-aware: the hash is
    salted with the stratum so per-stratum rates are independent.
  * pack_sequences — next-fit packing of documents into fixed token-budget
    training bins, computed per shard: a global greedy pack would need a
    total order (single-partition window = one task at 100 TB); sharding by
    hash gives each executor an independent packing problem and the bin ids
    are globally unique (shard, bin). One shuffle on the shard key.
  * decontaminate — remove training documents whose content fingerprint
    (md5 over the sorted distinct token set — order/duplication
    insensitive) appears in an eval/benchmark corpus. The eval side is
    small by construction -> broadcast left-anti join, no shuffle of the
    corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..util import spread
from .text import hash60, tokens_col

SAMPLE_MOD = 1_000_000


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    *,
    strata_col: str,
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff
    hash60(stratum || ':' || id) % 1e6 < fraction(stratum) * 1e6.

    `fractions` maps stratum value -> sampling rate in [0, 1]; strata not
    listed get `default_fraction`. This is the reproducible way to build
    training mixes ("60% web, 30% code, 10% books"): membership depends only
    on content identity, so reruns, backfills, and the DuckDB oracle all
    agree row-for-row.
    """
    frac = F.lit(float(default_fraction))
    for value, f in fractions.items():
        frac = F.when(F.col(strata_col) == value, F.lit(float(f))).otherwise(frac)
    bucket = hash60(
        F.concat_ws(":", F.col(strata_col), F.col(id_col).cast("string"))
    ) % SAMPLE_MOD
    return df.filter(bucket < (frac * SAMPLE_MOD).cast("long"))


def pack_sequences(
    df: DataFrame,
    *,
    budget: int = 2048,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pack documents into fixed token-budget training bins (next-fit by
    ascending id within each hash shard): returns
    (doc_id, n_tokens, shard, bin_id, bin = shard * 2^32 + bin_id).

    bin_id = floor((running_sum - n_tokens) / budget) — the standard
    scalable approximation of greedy packing: bins may overflow by at most
    one document, never underfill by more than a document, and the whole
    computation is one window over (shard, id-order). Documents longer than
    the budget land in their own overflowing bin, which is what a
    truncation/splitting stage downstream consumes.
    """
    toks = F.size(tokens_col(text_col))
    shard = (hash60(F.col(id_col).cast("string")) % n_shards).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        spread(df)
        .select(F.col(id_col), toks.alias("n_tokens"), shard.alias("shard"))
        .withColumn(
            "bin_id",
            F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget),
        )
    )
    return packed.withColumn(
        "bin", F.col("shard").cast("long") * (1 << 32) + F.col("bin_id")
    )


def content_fingerprint(df: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """(id, fingerprint) where fingerprint = md5 of the sorted distinct
    token set — invariant to word order and duplication."""
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(tokens_col(text_col))), " "))
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def keep_canonical(
    docs: DataFrame,
    clusters: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_cols: tuple[str, ...] = ("lang", "source", "n_chars"),
) -> DataFrame:
    """The keep/drop decision that closes a near-dup pipeline: from a
    (doc_id, cluster_id) map (duplicate_clusters output), keep exactly the
    canonical document of each cluster (the one whose id IS the cluster id)
    and attach its payload columns.

    One equi-join on doc_id. At 100 TB the cluster map is corpus-sized, so
    it is NOT broadcast; both sides hash-partition on doc_id (and the
    filter halves nothing on the singleton majority — they are their own
    canonicals, so the join is ~corpus-sized and co-partitioned)."""
    keep = clusters.filter(F.col("cluster_id") == F.col(id_col)).select(
        id_col, "cluster_id"
    )
    return docs.select(id_col, *payload_cols).join(keep, id_col)


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Training rows whose content fingerprint does NOT appear in the
    eval/benchmark corpus (broadcast left-anti join on the fingerprint —
    benchmark sets are tiny next to a training corpus). Set
    `broadcast_eval=False` when the contamination set itself is corpus-
    scale (e.g. cross-corpus dedup): the anti-join then shuffles both
    sides on the fingerprint instead of building a driver-side broadcast."""
    train_fp = content_fingerprint(train, id_col=id_col, text_col=text_col)
    eval_fp = (
        content_fingerprint(eval_df, id_col=id_col, text_col=text_col)
        .select("fingerprint")
        .distinct()
    )
    if broadcast_eval:
        eval_fp = F.broadcast(eval_fp)
    return train_fp.join(eval_fp, "fingerprint", "left_anti").select(id_col)


def chunk_documents(
    df: DataFrame,
    *,
    chunk_tokens: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token windows (the context-window
    chunking step before embedding or sequence training): chunk k covers
    tokens [k*stride, k*stride + chunk_tokens), 1-based slice; the final
    chunk is short rather than padded. n_chunks = 1 for docs that fit,
    else ceil((n_tokens - chunk_tokens) / stride) + 1 — every token is
    covered and consecutive chunks overlap by chunk_tokens - stride.

    Map-side explode only: the 1->K fan-out happens inside the scan
    partition, no shuffle at any size. Emits (doc_id, chunk_idx,
    n_chunk_tokens, chunk_text).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = tokens_col(text_col)
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - chunk_tokens) / F.lit(float(stride))).cast("int") + 1
    )
    start = lambda k: k * stride + 1  # noqa: E731 - 1-based slice position
    return (
        spread(df)
        .filter(n > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            toks.alias("t"),
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "_k"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.least(
                F.lit(chunk_tokens), F.size("t") - start(F.col("_k")) + 1
            ).alias("n_chunk_tokens"),
            F.concat_ws(
                " ", F.slice("t", start(F.col("_k")), chunk_tokens)
            ).alias("chunk_text"),
        )
    )


def budget_mix(
    df: DataFrame,
    *,
    base_budget: int,
    boosts: dict[str, int] | None = None,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    prepartition_prune: bool = True,
) -> DataFrame:
    """Greedy token-budget fill per stratum (the "sample each source up to
    N tokens" step of assembling a training mix): order each stratum's
    docs by a content-stable hash, keep docs while the running token total
    BEFORE the doc is under the stratum's budget (so the first doc always
    survives and membership is insensitive to how far past the budget the
    last doc runs). `boosts` overrides the budget for named strata —
    up-weighting curated sources is the standard use.

    Scale shape (`prepartition_prune=True`, the default): a single
    stratum window over the full corpus funnels EVERY row of a source
    through one reducer — billions of rows to produce a budget-bounded
    output. Instead, a first window over (stratum, input-partition) keeps
    only each partition's local budget prefix. That remnant is a provable
    superset of the winners with the exact same winner set: a row's
    local running total is <= its global running total (the local
    predecessors are a subset of the global ones), so every global winner
    survives the prune; and every pruned row sits at-or-after the budget
    boundary, whose full winner prefix is intact in the remnant, so the
    global window over the remnant reproduces the running totals the
    winners and losers are judged by (property-tested equal to the
    single-window path). Remnant size per stratum is bounded by
    n_partitions x (budget / avg_tokens + 1) regardless of corpus size.
    Both windows shuffle only (id, stratum, n_tokens, hash) — token
    counts and the ordering hash are computed map-side and the text never
    moves. Deterministic: ordering depends only on (id, stratum), so
    reruns and the SQL oracle agree exactly.
    """
    budget = F.lit(int(base_budget))
    for value, b in (boosts or {}).items():
        budget = F.when(F.col(strata_col) == value, F.lit(int(b))).otherwise(budget)
    slim = (
        df.withColumn("__h", hash60(F.col(id_col).cast("string")))
        .withColumn("n_tokens", F.size(tokens_col(text_col)).cast("long"))
        .select(id_col, strata_col, "n_tokens", "__h")
    )
    if prepartition_prune:
        wl = (
            Window.partitionBy(strata_col, "__part")
            .orderBy("__h", id_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        slim = (
            slim.withColumn("__part", F.spark_partition_id())
            .withColumn("__lcum", F.coalesce(F.sum("n_tokens").over(wl), F.lit(0)))
            .filter(F.col("__lcum") < budget)
            .drop("__part", "__lcum")
        )
    w = (
        Window.partitionBy(strata_col)
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        slim.withColumn("__cum", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .filter(F.col("__cum") < budget)
        .select(id_col, strata_col, "n_tokens")
    )


def chunk_dedup(
    df: DataFrame,
    *,
    chunk_tokens: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Chunk-level exact deduplication across the corpus (the paragraph-
    dedup analog for token-window chunks): chunk every document, hash each
    chunk's text, and keep the lexicographically-first (doc_id, chunk_idx)
    occurrence of every distinct chunk. Emits per-doc
    (doc_id, n_chunks, n_kept) — n_kept < n_chunks means part of the doc
    is repeated verbatim elsewhere in the corpus.

    Shuffles once on the chunk hash (map-side chunking + hashing), then
    once on doc_id for the per-doc rollup — no text moves after the first
    projection, only 16-byte hashes.
    """
    from pyspark.sql import Window as W

    chunks = chunk_documents(
        df, chunk_tokens=chunk_tokens, stride=stride,
        id_col=id_col, text_col=text_col,
    ).select("doc_id", "chunk_idx", F.md5("chunk_text").alias("h"))
    w = W.partitionBy("h").orderBy("doc_id", "chunk_idx")
    return (
        chunks.withColumn("__r", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("__r") == 1, 1).otherwise(0)).alias("n_kept"),
        )
    )


def doc_shingle_hashes(
    df: DataFrame,
    *,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The (doc_id, gh) exploded distinct-shingle 60-bit hash relation —
    the shared input of every contamination probe (exact membership join
    AND bloom prefilter read exactly these rows). Exposed so a caller
    that runs BOTH probes over the same corpus can build the explode
    once, `localCheckpoint` it, and hand it to `contamination_score` and
    `membership.contamination_prefilter_from_hashes` instead of paying the
    tokenize+shingle+hash pass per probe.
    """
    from .dedup_text import shingles_col

    # explode_outer, not explode: a bare explode of the shingle expression
    # triggers InferFiltersFromGenerate + pushdown, which substitutes the
    # WHOLE shingle expression into a size(..)>0 filter below the spread()
    # repartition — recomputing it on the scan's few partitions (NOTES
    # pathology #2). The empty-array rows explode_outer keeps become one
    # NULL each; the post-Generate IS NOT NULL filter drops them and
    # cannot be pushed below the Generate.
    return (
        spread(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(shingles_col(text_col, n)).alias("g"),
        )
        .filter(F.col("g").isNotNull())
        .select("doc_id", hash60(F.col("g")).alias("gh"))
    )


def eval_shingle_hashes(
    eval_df: DataFrame, *, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """The eval corpus' shingle 60-bit hashes as a bare (gh) relation —
    pre-distinct, so one materialization serves both `bloom_from_hashes`
    (bit_or is idempotent, needs no distinct) and the exact membership
    leg (which applies its own distinct)."""
    from .dedup_text import shingles_col

    return (
        spread(eval_df)
        .select(F.explode_outer(shingles_col(text_col, n)).alias("g"))
        .filter(F.col("g").isNotNull())
        .select(hash60(F.col("g")).alias("gh"))
    )


def contamination_score(tr: DataFrame, ev_gh: DataFrame) -> DataFrame:
    """Per-document eval-set contamination ratio (the scored variant of
    `decontaminate`): fraction of a training doc's distinct word n-grams
    that appear anywhere in the eval corpus. `tr` = (doc_id, gh) from
    `doc_shingle_hashes(train)`, `ev_gh` = (gh) from
    `eval_shingle_hashes(eval_df)` (pre-distinct; deduplicated here), so
    a caller running several probes over one corpus builds each explode
    once. Emits (doc_id, n_shingles, n_matched, contamination) for docs
    with >= n tokens; a threshold filter on `contamination` is the usual
    next step.

    The eval side reduces to distinct 60-bit shingle hashes BEFORE the
    join (eval/benchmark sets are tiny next to a training corpus), so the
    membership probe is a broadcast join on longs — no eval text shuffles
    and the train side is a single explode + rollup on doc_id.
    """
    ev = ev_gh.select("gh").distinct().withColumn("__hit", F.lit(1))
    return (
        tr.join(F.broadcast(ev), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_matched"),
        )
        .withColumn(
            "contamination", F.col("n_matched") / F.col("n_shingles")
        )
    )


def sample_k_per_stratum(
    df: DataFrame,
    k: int,
    *,
    strata_col: str = "source",
    id_col: str = "doc_id",
    prepartition_prune: bool = True,
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample: rank each stratum's rows
    by a content-stable hash and keep the first k. The fixed-SIZE
    counterpart of `stratified_sample` (fixed-RATE): eval-set construction
    and per-source inspection pulls want "give me exactly 200 of each",
    reproducibly, regardless of stratum size.

    Scale shape (`prepartition_prune=True`, the default): ranking runs on
    a narrow (stratum, id, hash) projection — document payloads never
    shuffle. A first top-k per (stratum, input-partition) bounds what the
    global stratum window sees to n_partitions x k rows per stratum (a
    row's local rank <= its global rank, so every global winner survives;
    the winners are the global order's first k and all precede any pruned
    row, so re-ranking the remnant yields the identical k — property-
    tested against the single-window path). Winners (<= k per stratum)
    broadcast back as a semi-join, so no reducer ever receives a whole
    stratum and the full rows move zero times. Rank truncation is
    deterministic (hash then id tiebreak), so reruns and engines agree
    row-for-row.

    Duplicate (stratum, id) rows: the two paths agree exactly only when
    ids are unique within a stratum (the normal corpus contract). With
    duplicates, the scale path samples k DISTINCT ids (the slim
    projection is deduplicated before ranking) and returns every copy of
    each sampled id — possibly more than k rows — while
    `prepartition_prune=False` row_number-truncates to exactly k rows,
    splitting copies arbitrarily. The distinct-id semantics is the
    deliberate one for the scale path: "which documents" is a set
    decision, and a semi-join cannot halve a duplicated id anyway.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    if not prepartition_prune:
        w = Window.partitionBy(strata_col).orderBy("__h", id_col)
        return (
            df.withColumn("__h", hash60(F.col(id_col).cast("string")))
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .drop("__h", "__rk")
        )
    slim = (
        df.select(strata_col, id_col)
        .withColumn("__h", hash60(F.col(id_col).cast("string")))
        .withColumn("__part", F.spark_partition_id())
    )
    # dense_rank, not row_number: duplicate (stratum, id) copies tie on
    # (__h, id) and must share a rank slot — with row_number, k copies of
    # a low-ranked id could push a genuine global winner past the local
    # cut (no extra shuffle; with unique ids dense_rank == row_number)
    wl = Window.partitionBy(strata_col, "__part").orderBy("__h", id_col)
    pruned = (
        slim.withColumn("__lrk", F.dense_rank().over(wl))
        .filter(F.col("__lrk") <= k)
        .drop("__part", "__lrk")
    )
    wg = Window.partitionBy(strata_col).orderBy("__h", id_col)
    winners = (
        pruned.withColumn("__rk", F.dense_rank().over(wg))
        .filter(F.col("__rk") <= k)
        .select(strata_col, id_col)
        .distinct()  # bounded: <= n_partitions * k pairs per stratum
    )
    return df.join(F.broadcast(winners), [strata_col, id_col], "left_semi")


def keep_best(
    docs: DataFrame,
    clusters: DataFrame,
    *,
    score_col: str,
    id_col: str = "doc_id",
    payload_cols: tuple[str, ...] = ("lang", "source", "n_chars"),
) -> DataFrame:
    """Quality-aware keep/drop for a near-dup pipeline: from a
    (doc_id, cluster_id) map, keep the HIGHEST-`score_col` document of
    each cluster (deterministic min-id tiebreak) instead of
    `keep_canonical`'s positional min-id winner — the production rule
    when duplicates differ in quality (keep the longest / highest-rated
    copy, drop the truncated mirror).

    One doc_id equi-join plus one window keyed on cluster_id. At scale
    the window's skew is the largest duplicate cluster, which the LSH
    hot-bucket cap already bounds upstream; singleton clusters (the vast
    majority) are one-row partitions.
    """
    from pyspark.sql import Window

    payload = [c for c in payload_cols if c != score_col]
    scored = docs.select(id_col, score_col, *payload).join(clusters, id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    *,
    n_buckets: int = 64,
    gram_n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashed n-gram importance weights for data mixing — the bucketed
    form of DSIR (Xie et al. 2023, "Data Selection for Language Models
    via Importance Resampling"): score every raw document by how much
    its n-gram distribution looks like a small `target` corpus, using
    two hashed-feature censuses instead of an LM.

    Deviation from the paper, for cross-engine determinism: the paper's
    log-linear weight sum(c_f * (ln p_t(f) - ln p_r(f))) needs ln(),
    which is libm-dependent and breaks bit-exact oracles (the
    tfidf_top_terms convention). This emits the LINEAR importance proxy

        weight = sum_b c_b * rho_b / n_grams,
        rho_b  = ((t_b + 1)/(T + B)) / ((r_b + 1)/(R + B))

    — an add-one-smoothed likelihood ratio per hash bucket, averaged
    over the document's grams. Monotone agreement with DSIR holds
    per-bucket (rho_b is a monotone transform of the log-ratio); the
    aggregation weights buckets by ratio rather than log-ratio, which
    up-weights strong target evidence. Every c/t/r/T/R/B is an exact
    integer; each rho_b is two IEEE divisions; the final sum folds in
    BUCKET order as an explicit add chain over the n_buckets pivot
    columns — deterministic and replayable term-by-term in SQL.

    Shape at scale: grams explode map-side; the per-doc bucket pivot is
    ONE combinable hash aggregation keyed doc_id (n_buckets conditional
    sums — no (doc, bucket) shuffle, no second window); each census is
    a single reduce to ONE row, broadcast back via crossJoin. The only
    corpus-wide shuffle is the doc_id aggregation. n_buckets trades
    collision bias for width — production DSIR uses 10^4+; the default
    64 keeps generated-SQL oracles reviewable.
    """
    toks = tokens_col(text_col)
    grams_arr = F.when(
        F.size(toks) >= gram_n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (gram_n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, gram_n)),
        ),
    ).otherwise(F.array().cast("array<string>"))

    def bucketed(df: DataFrame) -> DataFrame:
        return (
            spread(df)
            .select(
                F.col(id_col).alias("doc_id"),
                F.explode_outer(grams_arr).alias("gram"),
            )
            .filter(F.col("gram").isNotNull())
            .select(
                "doc_id", (hash60("gram") % n_buckets).alias("b")
            )
        )

    # the n_buckets-wide pivots and the bucket-ordered add chain are built
    # as SQL-parsed expression strings, not per-column F.* composition:
    # the parsed trees are identical (so the oracle stays bit-exact) but
    # construction is O(n_buckets) parser calls instead of ~5x that many
    # Py4J round-trips — at n_buckets=64 that chatter was the dominant,
    # data-independent cost of the whole query (measured r7)
    t_stats = bucketed(target).agg(
        F.count(F.lit(1)).alias("t_total"),
        *[
            F.expr(f"sum(cast((b = {i}) as bigint)) as t{i}")
            for i in range(n_buckets)
        ],
    )
    per_doc = bucketed(docs).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        *[
            F.expr(f"sum(cast((b = {i}) as bigint)) as c{i}")
            for i in range(n_buckets)
        ],
    )
    # the raw census is the column-sum of the per-doc pivot: the corpus
    # explodes ONCE and the doc-count-sized pivot materializes for its
    # two consumers (per-branch column pruning defeats exchange reuse,
    # so without the checkpoint the corpus would explode per consumer)
    per_doc = per_doc.localCheckpoint(eager=False)
    r_stats = per_doc.agg(
        F.sum("n_grams").alias("r_total"),
        *[F.expr(f"sum(c{i}) as r{i}") for i in range(n_buckets)],
    )
    bf = repr(float(n_buckets))
    acc = "cast(0.0 as double)"
    for i in range(n_buckets):
        rho = (
            f"((cast(t{i} as double) + 1.0D)"
            f" / (cast(t_total as double) + {bf}D))"
            f" / ((cast(r{i} as double) + 1.0D)"
            f" / (cast(r_total as double) + {bf}D))"
        )
        acc = f"({acc} + (cast(c{i} as double) * ({rho})))"
    return (
        per_doc.crossJoin(F.broadcast(t_stats))
        .crossJoin(F.broadcast(r_stats))
        .select(
            "doc_id",
            "n_grams",
            F.expr(f"({acc}) / cast(n_grams as double)").alias("weight"),
        )
    )


def importance_resample(
    weighted: DataFrame,
    *,
    rate: float,
    weight_col: str = "weight",
    id_col: str = "doc_id",
) -> DataFrame:
    """The resampling half of DSIR: keep each document with probability
    min(1, weight * rate) using the content-stable hash as the uniform
    draw — `dsir_weights` scores, this selects. Deterministic (the same
    doc is in/out on every run and engine — the stratified_sample
    convention, NOT rand()), a pure map-side filter with no shuffle at
    any corpus size, and composable: the survivors feed budget_mix /
    pack_sequences unchanged.

    `rate` calibrates expected yield: E[|kept|] ~= rate * sum(weights)
    (callers wanting an exact target count should use sample_k-style
    ranked selection instead — a global weight sum is order-dependent
    float arithmetic, so this operator deliberately does not normalize
    internally).
    """
    u = hash60(F.col(id_col).cast("string")).cast("double") / F.lit(
        float(1 << 60)
    )
    return weighted.filter(
        u < F.col(weight_col).cast("double") * F.lit(float(rate))
    )


def temperature_mix(
    df: DataFrame,
    *,
    source_col: str = "source",
) -> DataFrame:
    """Temperature-scaled source sampling weights at alpha = 0.5 — the
    multilingual/domain-mixing recipe (mT5/XLM-R style): sampling
    probability proportional to p_s^alpha flattens the source
    distribution, up-weighting small sources without letting them
    dominate. Emits one row per source: (source, n_docs, p, weight,
    boost) where p = n_s/N (the natural rate), weight the normalized
    temperature-scaled rate, boost = weight/p the per-source up/down-
    sampling factor a sampler applies.

    alpha is FIXED at 0.5 because p^0.5 = sqrt(p) is the one power IEEE
    requires correctly rounded — pow()/ln() are libm-dependent and would
    break the bit-exact oracle (the dsir_weights convention). The
    normalizer folds sqrt(n_s) in SOURCE order as an explicit chain
    (float addition is not associative); sqrt(p_s)/Z == sqrt(n_s)/Z'
    up to the same normalization, so integer counts feed sqrt directly.

    Shape at scale: one combinable count per source (|sources| rows),
    one |sources|-row fold broadcast back — corpus scanned once, no
    other shuffle."""
    s = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w_raw = F.sqrt(F.col("n_docs").cast("double"))
    norm = s.agg(
        F.sum("n_docs").alias("n_total"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("source", w_raw.alias("w")))
                ),
                lambda x: x["w"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("z"),
    )
    p = F.col("n_docs").cast("double") / F.col("n_total").cast("double")
    weight = w_raw / F.col("z")
    return s.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_docs",
        p.alias("p"),
        weight.alias("weight"),
        (weight / p).alias("boost"),
    )
