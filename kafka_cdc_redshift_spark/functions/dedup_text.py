"""Document deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash.

Every near-dup operator (jaccard_pairs, containment_pairs, lsh_band_index,
minhash_lsh_pairs, minhash_lsh_incremental) reads the (doc_id, sh_set)
relation of `shingle_sketches`, the one shingle builder: a job that runs
several of them over one corpus shingles it once.

Scale design (100 TB of documents):
  * exact_dedup — one hash-shuffle on md5(text); map-side partial agg.
  * jaccard_pairs — shingle-explode + self-join on shingle. The join key is
    the shingle, so co-occurring docs meet without a cross join. At scale,
    pass `max_df` to drop stop-shingles (a shingle present in thousands of
    docs generates a quadratic pair blowup and carries no near-dup signal).
  * minhash_lsh_pairs — the scale path: constant-size signature per doc
    (num_hashes ints), band join generates candidates, exact Jaccard
    verifies. Shuffle volume drops from O(shingles) to O(num_hashes) per
    doc, and only candidate pairs (not all pair-sharing-a-shingle) are
    verified.
  * simhash — one 64->16-bit sketch per doc in a single agg pass; duplicate
    clusters = equal sketches (or hamming<=k via banded equality).

Everything is deterministic and engine-portable (hash60 = md5-prefix), so
the DuckDB oracles replay the identical algorithm, not just the result.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import spread
from .text import hash60, tokens_col


def shingles_col(text: str | Column = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles of trim(lower(text))."""
    toks = tokens_col(text)
    # total function: sequence(1, 0) would run DESCENDING and feed slice a 0
    # start — guard inside the expression (a row filter upstream is not a
    # reliable guard once Catalyst folds local relations)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def exact_dedup(df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash; keeper = min id."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_doc_id"))
    )


def shingle_sketches(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, sh_set): the distinct word n-gram set of every document
    with >= n tokens — the one shingle builder, and the only input of
    every near-dup operator below. Build it once per corpus and hand the
    same relation to each consumer; materialize it when two or more
    consumers read it. Persisted next to the band index
    (`lsh_band_index`), the sets are the verification sketches that let
    `minhash_lsh_incremental` check candidates without the corpus text.
    """
    return spread(df).filter(F.size(tokens_col(text_col)) >= n).select(
        F.col(id_col).alias("doc_id"), shingles_col(text_col, n).alias("sh_set")
    )


# stop-shingle document-frequency cut, ON by default: a shingle present in
# d documents emits O(d^2) join rows — one common 3-gram with df=10^4 is
# 10^8 pairs before any pruning can act, which is the operator's only
# quadratic escape hatch at corpus scale. df > max_df shingles carry no
# near-dup signal (they are corpus-common phrases), so cutting them bounds
# the blowup at O(max_df^2) per shingle. Pass max_df=None for the exact
# all-shingles variant (small/verification workloads only).
DEFAULT_MAX_DF = 1000


def _shared_shingle_counts(
    sets_: DataFrame, max_df: int | None, min_size_ratio: float | None = None
) -> DataFrame:
    """(doc_a, doc_b, sz_a, sz_b, inter) for every doc_a < doc_b pair
    sharing a kept shingle: the posting-list self-join under
    `jaccard_pairs` and `containment_pairs`.

    The stop-shingle df count is a window over the join's own key, so it
    rides the SAME hash partitioning the sort-merge self-join needs and
    the pipeline pays ONE shuffle of the posting list. A corpus-hot
    shingle concentrates its rows in one counting task before being
    dropped; that pass is linear and spill-safe. `min_size_ratio` t
    prunes pairs whose min/max set size is below t before the
    aggregation (a pair that cannot reach Jaccard t)."""
    # carry the set size on every exploded row: the pair join can prune by
    # size and the reduction needs no re-join of sizes.
    # explode_outer: the non-outer Generate gets an inferred `size(sh_set)>0`
    # filter whose pushdown substitutes the WHOLE shingle expression below the
    # spread() repartition — recomputing it single-task. Sets are provably
    # non-empty here (token filter upstream), so outer is semantically equal.
    ex = sets_.select(
        "doc_id", F.size("sh_set").alias("sz"), F.explode_outer("sh_set").alias("sh")
    )
    if max_df is not None:
        ex = (
            ex.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("sh")))
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    cond = (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    if min_size_ratio is not None:
        t = F.lit(float(min_size_ratio))
        cond = (
            cond
            & (F.col("b.sz").cast("double") >= t * F.col("a.sz"))
            & (F.col("a.sz").cast("double") >= t * F.col("b.sz"))
        )
    # sort-merge, not broadcast: the exploded posting list is NOT a dim table
    # — broadcasting it is unstable here and impossible at corpus scale; SMJ
    # shuffles both sides by shingle once and streams matches
    return (
        ex.alias("a")
        .join(ex.hint("merge").alias("b"), cond)
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def _jaccard(inter: Column, sz_a: Column, sz_b: Column) -> Column:
    return inter.cast("double") / (sz_a + sz_b - inter).cast("double")


def jaccard_pairs(
    sets_: DataFrame,
    *,
    threshold: float = 0.5,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """All pairs (doc_a < doc_b, jaccard) of `shingle_sketches` sets with
    Jaccard >= threshold.

    Exact when max_df is None: any pair with Jaccard > 0 shares >= 1
    shingle, so the shingle-keyed self-join loses nothing. With the
    (default) stop-shingle cut, the intersection is counted over surviving
    shingles while set sizes stay pre-cut, so the reported jaccard is a
    conservative lower bound — a pair can only be dropped if its overlap
    rides on corpus-hot shingles.
    """
    pairs = _shared_shingle_counts(sets_, max_df, min_size_ratio=threshold)
    jac = _jaccard(F.col("inter"), F.col("sz_a"), F.col("sz_b"))
    return pairs.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def containment_pairs(
    sets_: DataFrame,
    *,
    threshold: float = 0.8,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """All pairs of `shingle_sketches` sets whose CONTAINMENT
    max(|A∩B|/|A|, |A∩B|/|B|) >= threshold — the asymmetric near-dup
    relation Jaccard misses: a short document quoted or embedded verbatim
    inside a long one has tiny Jaccard (the union is dominated by the
    long doc) but containment ~1 on the short side. Emits (doc_a, doc_b,
    containment_a, containment_b, jaccard) with doc_a < doc_b;
    containment_a = the fraction of doc_a's shingles found in doc_b.

    Same posting-list join as `jaccard_pairs` EXCEPT the size-ratio
    prune: size asymmetry is exactly the signal here, so no pair is
    pruned by size. At corpus scale that makes the hot-shingle cut
    (`max_df`) load-bearing, not optional — a boilerplate shingle joins
    every tiny quote to every big page. The streamed dedup state serves
    its standing sketches through this same operator
    (streaming/dedup_ingest.DedupIngest.containment)."""
    inter_d = F.col("inter").cast("double")
    return (
        _shared_shingle_counts(sets_, max_df)
        .select(
            "doc_a", "doc_b",
            (inter_d / F.col("sz_a").cast("double")).alias("containment_a"),
            (inter_d / F.col("sz_b").cast("double")).alias("containment_b"),
            _jaccard(F.col("inter"), F.col("sz_a"), F.col("sz_b")).alias("jaccard"),
        )
        .filter(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= F.lit(float(threshold))
        )
    )


# universal-hash family over a 2^30 universe (int64-overflow-safe in both
# engines, Spark ANSI mode included): h_s = (a_s * h30 + b_s) mod P
_MH_P = 4294967291          # largest prime < 2^32
_MH_H30 = 1 << 30


def _mh_params(seed: int) -> tuple[int, int]:
    a = (2654435761 * (seed + 1)) % _MH_P
    b = (40503 * (seed + 7) + 1) % _MH_P
    return a, b


def minhash_signatures(sets_: DataFrame, num_hashes: int) -> DataFrame:
    """Wide signature row per doc: (doc_id, mh0..mh{k-1}).

    One md5 per shingle (hash60), then k cheap integer universal hashes —
    no per-seed row explosion, ONE groupBy with k min() aggregates. Shuffle
    volume is O(docs * k ints) instead of O(shingles * k rows).
    """
    # explode_outer: see _shared_shingle_counts — keeps the inferred-filter
    # pushdown from duplicating the shingle computation below the repartition
    ex = sets_.select("doc_id", F.explode_outer("sh_set").alias("sh"))
    h30 = (hash60("sh") % _MH_H30).alias("h30")
    ex = ex.select("doc_id", h30)
    aggs = []
    for s in range(num_hashes):
        a, b = _mh_params(s)
        aggs.append(
            F.min((F.lit(a) * F.col("h30") + F.lit(b)) % _MH_P).alias(f"mh{s}")
        )
    return ex.groupBy("doc_id").agg(*aggs)


def lsh_band_index(
    sets_: DataFrame,
    *,
    num_hashes: int = 12,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded-signature index of `shingle_sketches` sets: one (doc_id,
    band, bkey) row per band — the persistable artifact of MinHash-LSH.
    Build it ONCE for the standing corpus (and store it
    partitioned/bucketed by (band, bkey)); every new ingest batch then
    dedups against the corpus by joining its own (tiny) band relation to
    this index — see `minhash_lsh_incremental`. Size is exactly docs x
    n_bands rows of (id, int, short string), independent of document
    length."""
    sig = minhash_signatures(sets_, num_hashes)
    n_bands = num_hashes // band_size
    band_rows = [
        F.struct(
            F.lit(bi).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"mh{bi * band_size + r}").cast("string")
                    for r in range(band_size)
                ],
            ).alias("bkey"),
        )
        for bi in range(n_bands)
    ]
    out = sig.select(
        "doc_id", F.explode(F.array(*band_rows)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bkey")
    # build-time hot-bucket cap (see _cap_hot_buckets): a STORED index
    # should be built with this so no ingest ever meets a quadratic bucket
    if max_bucket is not None:
        out = _cap_hot_buckets(out, max_bucket)
    return out


def _cap_hot_buckets(bands: DataFrame, max_bucket: int) -> DataFrame:
    """Drop (band, bkey) buckets holding more than `max_bucket` docs before
    the candidate self-join. A hot bucket (boilerplate, near-empty docs,
    adversarial repeats) generates O(bucket²) candidate pairs — at corpus
    scale one million-doc bucket is a trillion-pair reducer. The cap is
    the LSH analog of jaccard_pairs' stop-shingle cut: docs sharing a
    dropped bucket usually co-occur in other, rarer buckets, so recall
    loss concentrates on pathological clusters (which exact-dedup or a
    dedicated boilerplate pass should own anyway).

    The bucket count is a window over the join's OWN key, so after the
    one hash exchange on (band, bkey) the count, the filter, and the
    self-join all run co-partitioned — no extra shuffle."""
    w = Window.partitionBy("band", "bkey")
    return (
        bands.withColumn("__bn", F.count(F.lit(1)).over(w))
        .filter(F.col("__bn") <= max_bucket)
        .drop("__bn")
    )


def verified_band_pairs(
    bands: DataFrame,
    sets_: DataFrame,
    index: DataFrame | None = None,
    sketches: DataFrame | None = None,
    *,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidates from BUILT band relations, exact-Jaccard verified —
    the one candidate-verification body of `minhash_lsh_pairs`,
    `minhash_lsh_incremental` and the streaming ingest, which builds a
    batch's sets and bands once and reads both pair kinds from them.

    Without `index`: pairs within `bands` (doc_a < doc_b, jaccard),
    verified against `sets_`. With `index` (+ its `sketches`): pairs
    between `bands` and the index (doc_new, doc_old, jaccard), the new
    side verified against `sets_`, the old side against `sketches`.
    Verification fetches the sets of candidate docs only (broadcast
    semi-join on the candidate ids), so a standing corpus contributes a
    few rows per match, not a scan."""
    if index is None:
        index, sketches = bands, sets_
        new, old = "doc_a", "doc_b"
        keep = F.col("a.doc_id") < F.col("b.doc_id")
    else:
        new, old = "doc_new", "doc_old"
        keep = F.col("a.doc_id") != F.col("b.doc_id")
    cand = (
        bands.alias("a")
        .join(index.alias("b"), ["band", "bkey"])
        .filter(keep)
        .select(F.col("a.doc_id").alias(new), F.col("b.doc_id").alias(old))
        .distinct()
        # materialize: LSH shrinks the corpus to a small candidate set, and
        # the id restrictions below and the final pair join all consume it
        .localCheckpoint()
    )

    def candidate_sets(src: DataFrame, col: str, alias: str) -> DataFrame:
        ids = cand.select(F.col(col).alias("doc_id")).distinct()
        return src.join(F.broadcast(ids), "doc_id", "semi").select(
            F.col("doc_id").alias(col), F.col("sh_set").alias(alias)
        )

    inter = F.size(F.array_intersect("set_n", "set_o"))
    jac = _jaccard(inter, F.size("set_n"), F.size("set_o"))
    return (
        cand.join(candidate_sets(sets_, new, "set_n"), new)
        .join(candidate_sets(sketches, old, "set_o"), old)
        .select(new, old, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    sets_: DataFrame,
    *,
    num_hashes: int = 12,
    band_size: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash + banded LSH candidate generation over `shingle_sketches`
    sets, exact-Jaccard verification: (doc_a < doc_b, jaccard).

    Candidates: pairs agreeing on ALL rows of >= 1 band (classic banding,
    P(candidate) = 1-(1-j^r)^b). Each candidate is then verified with exact
    shingle Jaccard, so the output has no false positives — only bounded
    false-negative probability, which is the documented LSH trade-off.
    `max_bucket` (optional) caps candidate-bucket size for hot-key safety
    at corpus scale — see `_cap_hot_buckets`; None preserves exact
    recall-parity with the SQL oracle. `sets_` is read twice (signatures,
    verification): hand in a materialized relation unless it is cheap.
    """
    bands = lsh_band_index(
        sets_, num_hashes=num_hashes, band_size=band_size,
        max_bucket=max_bucket,
    )
    return verified_band_pairs(bands, sets_, threshold=threshold)


def minhash_lsh_incremental(
    new_sets: DataFrame,
    index: DataFrame,
    sketches: DataFrame,
    *,
    num_hashes: int = 12,
    band_size: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs (doc_new, doc_old, jaccard) between a NEW ingest
    batch's `shingle_sketches` sets and the EXISTING corpus — the
    crawl-ingest shape: the standing corpus is never re-signed, only
    joined through its prebuilt `lsh_band_index` (`index`), and verified
    against its stored sets (`sketches`); the corpus text is never read.

    Per-ingest cost is proportional to the batch (its signatures + bands)
    plus the matched candidates: the candidate join hits the index on
    (band, bkey) — with the index stored bucketed on those keys, only
    the batch's bands move — and exact-Jaccard verification fetches sets
    ONLY for docs that appear in a candidate pair (semi-joined on both
    sides). Output has no false positives; false-negative probability is
    the banding bound 1-(1-j^r)^b, identical to `minhash_lsh_pairs`.

    Within-batch duplicates are NOT reported — run `minhash_lsh_pairs`
    on the batch for that (cheap: the batch is small); this operator's
    contract is strictly batch-vs-corpus.
    """
    new_bands = lsh_band_index(
        new_sets, num_hashes=num_hashes, band_size=band_size,
        max_bucket=max_bucket,
    )
    return verified_band_pairs(
        new_bands, new_sets, index, sketches, threshold=threshold
    )


def simhash(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """Frequency-weighted SimHash sketch over token hash60s (low `bits`)."""
    # explode_outer + post-filter on the generated column: a plain explode
    # would get an inferred size(tokens)>0 filter with the whole tokenize
    # expression substituted in (evaluated twice per row) — NOTES.md #2
    tok = (
        spread(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(tokens_col(text_col)).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
        .withColumn("h", hash60("tok"))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    sketch = reduce(
        lambda acc, b: acc + F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(0),
        range(1, bits),
        F.when(F.col("b0") > 0, F.lit(1)).otherwise(0),
    )
    return agg.select("doc_id", sketch.cast("long").alias("simhash"))


def duplicate_clusters(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    max_iter: int = 15,
) -> DataFrame:
    """Connected components over a near-dup pair graph: (doc_id, cluster_id)
    with cluster_id = the minimum doc_id in the component; documents in no
    pair are singleton clusters of themselves. This is the step that turns
    pairwise near-dup evidence into keep/drop decisions (keep cluster_id,
    drop the rest).

    Iterative min-label propagation with POINTER JUMPING over ONLY the
    vertices that appear in a pair — at corpus scale near-dups are a small
    fraction of documents, so the loop's joins run on a tiny relation; the
    (huge) singleton majority joins in exactly once at the end. Each round
    fuses (a) the min-over-neighbors step with (b) a label-of-label hop
    (label := label[label]), which squares propagation distance per round:
    convergence in O(log diameter) barriers instead of O(diameter). The
    convergence probe rides the same materialization as the label update (a
    `chg` flag column) and runs from round 1 on (only the always-true
    round-0 probe is skipped): near-dup graphs are overwhelmingly tiny
    components that one pointer-jump round collapses, and the probe reads
    the round's already-materialized checkpoint — a trivial limit-1 count.
    Lineage is truncated with localCheckpoint so the
    plan stays flat (the legitimate pattern for iterative algorithms — data
    never leaves the cluster).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        # materialize once: every propagation round reads the edge set, and
        # its lineage (e.g. a full jaccard_pairs computation) must not be
        # re-evaluated per round
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint()
    )
    for rnd in range(max_iter):
        nbr = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
        )
        half = labels.join(nbr, labels.id == nbr.dst, "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label"),
            F.coalesce(F.col("nbr_min") < F.col("label"), F.lit(False)).alias("chg"),
        )
        # pointer jump: label := label[label]. min-labels only ever shrink,
        # so following the current label's own label is always valid and
        # doubles the hop distance covered per barrier.
        jump = labels.select(
            F.col("id").alias("jid"), F.col("label").alias("jlabel")
        )
        stepped = (
            half.join(jump, half.label == jump.jid, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("jlabel", "label")).alias("label"),
                (
                    F.col("chg")
                    | F.coalesce(F.col("jlabel") < F.col("label"), F.lit(False))
                ).alias("chg"),
            )
            .localCheckpoint()
        )
        labels = stepped.select("id", "label")
        # probe from round 1: near-dup graphs are overwhelmingly tiny
        # components (pairs/triangles) that pointer jumping collapses in
        # one round, so the round-2 probe start ran one full (2-join +
        # checkpoint) round past convergence on the common shape; the
        # probe itself reads the round's ALREADY-materialized checkpoint
        # (limit-1 count), so probing earlier costs one trivial job while
        # deep chains still skip the always-true round-0 probe.
        if rnd >= 1 and stepped.filter("chg").limit(1).count() == 0:
            break
    # singletons (no pair) keep their own id; broadcast the tiny label map
    return df.select(F.col(id_col).alias("doc_id")).distinct().join(
        F.broadcast(labels), F.col("doc_id") == labels.id, "left"
    ).select("doc_id", F.coalesce("label", "doc_id").alias("cluster_id"))
