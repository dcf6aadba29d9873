"""Incremental (algebraic) aggregate maintenance for append-only feeds.

A 100 TB corpus census should never be recomputed from scratch because a
crawl batch landed: every aggregate kept here is ALGEBRAIC — counts and
sums add, min/max fold — so the standing stats table updates from a new
batch in O(|groups| + |batch|), reading the batch once and the corpus
never. This is the batch-analytics twin of the CDC pipeline's
incremental merge: `merge_changes` maintains latest STATE, this
maintains latest AGGREGATES.

Higher moments ride the same shape: variance/mean are DERIVED from the
mergeable triple (n, sum, sum of squares) at read time, never stored —
storing only algebraic parts is what keeps the merge exact. Sums over
integer columns stay integer (exact, engine-portable); derived ratios
are IEEE double ops over exact integers, deterministic across engines
(the same convention the oracle catalog relies on elsewhere).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import DELETE_OP, OP_COL, UPDATE_OP

#: columns of a stats table for value column v: n, sum, sumsq, min, max
_PARTS = ("n", "sum", "sumsq", "min", "max")


def group_stats(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Mergeable per-group stats of `value_col`: (keys..., n, sum, sumsq,
    min, max). Integer-exact for integer inputs; one combinable shuffle."""
    v = F.col(value_col).cast("long")
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("sum"),
        F.sum(v * v).alias("sumsq"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
    )


def merge_group_stats(
    prev: DataFrame | None, batch_stats: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Fold a batch's stats into the standing stats table algebraically:
    n/sum/sumsq add, min/max fold. `prev=None` bootstraps. Cost is one
    union + one combinable shuffle over |groups| rows — the corpus
    itself is never touched. Associative and commutative, so any batch
    arrival order converges to `group_stats` of the full data
    (property-tested)."""
    if prev is None:
        return batch_stats
    u = prev.unionByName(batch_stats)
    return u.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("sum").alias("sum"),
        F.sum("sumsq").alias("sumsq"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    )


def derive_stats(stats: DataFrame) -> DataFrame:
    """Read-time derived metrics from the algebraic parts: mean and
    population variance. Double ops over exact integer parts — the same
    expression evaluated in any IEEE engine gives the same bits, so the
    derived columns stay oracle-checkable."""
    n = F.col("n").cast("double")
    s = F.col("sum").cast("double")
    ss = F.col("sumsq").cast("double")
    return stats.withColumn("mean", s / n).withColumn(
        "var_pop", (ss - (s * s) / n) / n
    )


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches
#
# Distinct counts are the one census column the algebraic parts above cannot
# carry: |A ∪ B| ≠ |A| + |B|. The scale answer is a MERGEABLE sketch —
# HyperLogLog registers union by per-register max, which is associative,
# commutative, and idempotent, so a standing (group, sketch) table folds a
# new batch in O(|groups| + |batch|) exactly like merge_group_stats, and
# replayed rows cannot double-count (idempotence is what a plain counter
# can never give under at-least-once delivery). Spark's Datasketches-backed
# hll_* expressions keep the whole path JVM-native.
# ---------------------------------------------------------------------------

DEFAULT_LGK = 12  # 2^12 registers -> ~1.6% standard error, 2-3 KB/group


def group_distinct_sketch(
    df: DataFrame, keys: Sequence[str], value_col: str, *, lgk: int = DEFAULT_LGK
) -> DataFrame:
    """Per-group HLL sketch of `value_col`: (keys..., ndv_sketch binary).
    One combinable shuffle; sketch size is fixed (~2^lgk bytes) per group
    regardless of group cardinality."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lgk)).alias("ndv_sketch")
    )


def merge_distinct_sketches(
    prev: DataFrame | None, batch_sketch: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Fold a batch's sketch table into the standing one: per-group HLL
    union (register-wise max — associative/commutative/idempotent, so any
    batch arrival order converges to the one-shot sketch; property-
    tested). `prev=None` bootstraps. Cost: one union + one combinable
    shuffle over |groups| rows."""
    if prev is None:
        return batch_sketch
    u = prev.unionByName(batch_sketch)
    return u.groupBy(*keys).agg(
        F.hll_union_agg("ndv_sketch").alias("ndv_sketch")
    )


def estimate_distinct(sketches: DataFrame) -> DataFrame:
    """Read-time NDV estimate column from the stored sketches."""
    return sketches.withColumn(
        "ndv_est", F.hll_sketch_estimate("ndv_sketch")
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketches
#
# Quantiles are the other census column plain algebraic parts cannot carry
# (a median does not add). The scale answer mirrors the NDV sketch: a
# MERGEABLE log-scale histogram — per group, counts over exponential value
# buckets (`bits_per_octave` sub-buckets per power of two, so bucket width
# is a fixed RELATIVE error of 2^(1/B) ≈ 9% at B=8). Bucket counts add, so
# the standing (group, sketch) table folds a batch in O(|groups|+|batch|),
# any batching converges to the one-shot sketch (associative+commutative;
# property-tested), and the read-time estimate is deterministic — unlike
# approx_percentile's order-sensitive internal sketch, every op here is
# exact integer counting plus IEEE doubles, so a DuckDB oracle replays it
# bit-for-bit (the same trick the engine's other incremental columns use).
# Merging is NOT idempotent (counts add), so the streaming loop guards it
# with the batch-id pointer like group_stats.
# ---------------------------------------------------------------------------

QSK_BITS_PER_OCTAVE = 8  # 2^(1/8) ≈ 1.090 relative bucket width
_QSK_OFFSET = 1 << 20  # keeps sign*(offset+m) monotone in the value
_QSK_EPS = 1e-9  # |x| below this collapses to the zero bucket
#: 2^(j/8) for j = 0..7, precomputed HERE so both engines multiply the
#: same literal doubles (cross-libm pow(2, frac) is not trusted to agree
#: to the last bit; pow with INTEGER exponents is)
QSK_POW2_FRAC = tuple(2.0 ** (j / QSK_BITS_PER_OCTAVE)
                      for j in range(QSK_BITS_PER_OCTAVE))


def _qsk_bucket(value_col: str):
    """Sign-aware log2 bucket id, monotone in the value: negative values
    map to negative ids (more negative = larger magnitude), |x| < eps to
    bucket 0, positives to sign*(OFFSET + floor(log2|x| * B))."""
    x = F.col(value_col).cast("double")
    b = QSK_BITS_PER_OCTAVE
    m = F.floor(F.log2(F.abs(x)) * F.lit(float(b))).cast("int")
    return (
        F.when(F.abs(x) < F.lit(_QSK_EPS), F.lit(0))
        .otherwise(
            F.signum(x).cast("int") * (F.lit(_QSK_OFFSET) + m)
        )
    )


def group_quantile_sketch(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Per-group quantile sketch of `value_col`: (keys..., qsketch
    array<struct<b,n>> sorted by bucket). One combinable shuffle; sketch
    size is O(occupied buckets) per group — bounded by the value range's
    octave span times 8, regardless of group cardinality."""
    return (
        df.select(*keys, _qsk_bucket(value_col).alias("b"))
        .groupBy(*keys, "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("b", "n"))
            ).alias("qsketch")
        )
    )


def merge_quantile_sketches(
    prev: DataFrame | None, batch_sketch: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Fold a batch's sketch table into the standing one: per-bucket count
    addition (associative + commutative — any batch arrival order
    converges to the one-shot sketch; property-tested). NOT idempotent:
    callers under at-least-once delivery need the batch-id guard, exactly
    like merge_group_stats. Cost: explode to (group, bucket) rows — a few
    dozen per group — one combinable shuffle, re-collect."""
    if prev is None:
        return batch_sketch
    u = prev.unionByName(batch_sketch)
    return (
        u.select(*keys, F.explode("qsketch").alias("e"))
        .groupBy(*keys, F.col("e.b").alias("b"))
        .agg(F.sum("e.n").alias("n"))
        .groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("b", "n"))
            ).alias("qsketch")
        )
    )


def estimate_quantiles(
    sketches: DataFrame, keys: Sequence[str], probs: Sequence[float]
) -> DataFrame:
    """Read-time quantile estimates from the stored sketches: for each
    prob p, the first bucket whose cumulative count reaches
    max(ceil(p*n), 1), and that bucket's lower-bound value as the
    estimate (relative error <= one bucket width, 2^(1/8)-1 ≈ 9%).
    Every op is exact integer counting + IEEE doubles over literals, so
    the estimate replays bit-for-bit in the SQL oracle. Output:
    (keys..., p, bucket, est, n_total)."""
    from pyspark.sql import Window

    b = QSK_BITS_PER_OCTAVE
    ex = sketches.select(*keys, F.explode("qsketch").alias("e")).select(
        *keys, F.col("e.b").alias("b"), F.col("e.n").alias("n")
    )
    w = Window.partitionBy(*keys).orderBy("b")
    cum = ex.withColumn("cum", F.sum("n").over(w)).withColumn(
        "tot", F.sum("n").over(Window.partitionBy(*keys))
    )
    pl = F.explode(
        F.array(*[F.lit(float(p)) for p in probs])
    ).alias("p")
    hit = cum.select(*keys, "b", "cum", "tot", pl).filter(
        F.col("cum")
        >= F.greatest(F.ceil(F.col("p") * F.col("tot")).cast("long"), F.lit(1))
    )
    sel = hit.groupBy(*keys, "p").agg(
        F.min("b").alias("bucket"), F.first("tot").alias("n_total")
    )
    sign = F.when(F.col("bucket") < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    m = F.abs(F.col("bucket")) - F.lit(_QSK_OFFSET)
    ip = F.floor(m.cast("double") / F.lit(float(b))).cast("int")
    j = (m - F.lit(b) * ip).cast("int")
    frac = F.element_at(
        F.array(*[F.lit(v) for v in QSK_POW2_FRAC]), j + 1
    )
    est = F.when(F.col("bucket") == 0, F.lit(0.0)).otherwise(
        sign * F.pow(F.lit(2.0), ip.cast("double")) * frac
    )
    return sel.select(*keys, "p", "bucket", est.alias("est"), "n_total")


# ---------------------------------------------------------------------------
# Mergeable frequent-items (heavy hitters) sketches
#
# The third census column the algebraic parts can't carry: "which values
# are the most frequent" needs per-value counts, and the distinct-value
# space is unbounded at corpus scale. The mergeable answer is a
# Count-Min sketch: d hash rows x w counters per group; counters ADD, so
# merging is associative + commutative (any batching converges to the
# one-shot sketch, exactly like the NDV/quantile tables — property-
# tested) and a standing (group, cms) table folds a batch in
# O(|groups| + |batch|). Estimates are one-sided: est(v) >= true
# count(v) always (the audit query pins this), overcount bounded by
# colliding mass (~2n/w per row, min over d rows).
#
# The hash rows are plain 64-bit modular arithmetic over a Mersenne
# prime with literal constants — NOT an engine-private hash — so DuckDB
# replays every bucket id and every estimate bit-for-bit (the same
# portability trick the quantile sketch uses for its bucket math).
# Counter addition is NOT idempotent: streaming callers need the
# batch-id guard, like group_stats.
# ---------------------------------------------------------------------------

CMS_D = 4  # hash rows (failure prob of the union bound ~ exp(-d))
CMS_W = 256  # counters per row (overcount ~ 2n/w per row, min over rows)
CMS_P = 2147483647  # Mersenne 2^31 - 1: a*x stays < 2^62, exact in int64
#: per-row affine constants (classic LCG multipliers/increments — public
#: domain numerics; any odd a < 2^31 works, these are just fixed)
CMS_A = (1664525, 1103515245, 22695477, 214013)
CMS_B = (1013904223, 12345, 1, 2531011)


def _cms_residue(value_col: str):
    """Non-negative residue of the (integer-encoded) value mod P, written
    with the sign-safe double-mod both engines evaluate identically."""
    x = F.col(value_col).cast("long")
    p = F.lit(CMS_P)
    return ((x % p) + p) % p


def _cms_bucket(residue, i: int):
    """Row-i bucket id in [0, w): ((a_i * r + b_i) mod P) mod w."""
    return (
        (F.lit(CMS_A[i]) * residue + F.lit(CMS_B[i])) % F.lit(CMS_P)
    ) % F.lit(CMS_W)


def group_freq_sketch(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Per-group CMS of `value_col`: (keys..., cms array<long> of length
    d*w, row-major). One combinable shuffle over (group, position) then a
    dense re-pack; sketch size is a fixed d*w longs (8 KB at 4x256) per
    group regardless of group cardinality."""
    r = _cms_residue(value_col)
    positions = F.array(
        *[(_cms_bucket(r, i) + F.lit(i * CMS_W)).cast("int")
          for i in range(CMS_D)]
    )
    size = CMS_D * CMS_W
    return (
        df.select(*keys, F.explode(positions).alias("pos"))
        .groupBy(*keys, "pos")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("pos", "n"))
            ).alias("m")
        )
        .select(
            *keys,
            F.transform(
                F.sequence(F.lit(0), F.lit(size - 1)),
                lambda p: F.coalesce(
                    F.element_at("m", p.cast("int")), F.lit(0).cast("long")
                ),
            ).alias("cms"),
        )
    )


def merge_freq_sketches(
    prev: DataFrame | None, batch_sketch: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Fold a batch's CMS table into the standing one: element-wise
    counter addition (associative + commutative; collect_list order
    doesn't matter because addition commutes). NOT idempotent — callers
    under at-least-once delivery need the batch-id guard. Cost: one
    combinable shuffle over |groups| rows; each group folds its handful
    of d*w arrays JVM-side."""
    if prev is None:
        return batch_sketch
    zero = F.array_repeat(F.lit(0).cast("long"), CMS_D * CMS_W)
    u = prev.unionByName(batch_sketch)
    return u.groupBy(*keys).agg(
        F.aggregate(
            F.collect_list("cms"),
            zero,
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
        ).alias("cms")
    )


def estimate_freq(
    sketches: DataFrame, candidates: DataFrame, keys: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Point-estimate counts for candidate values: join candidates to
    their group's sketch and take min over the d row counters
    (`cms_est`). One-sided: cms_est >= true count, always. Cost: one
    equi-join on the group keys (broadcast-able — the sketch table is
    |groups| rows) + map-side array reads."""
    r = _cms_residue(value_col)
    reads = [
        F.element_at(
            "cms", (_cms_bucket(r, i) + F.lit(i * CMS_W + 1)).cast("int")
        )
        for i in range(CMS_D)
    ]
    return candidates.join(sketches, list(keys)).withColumn(
        "cms_est", F.least(*reads)
    )


def topk_candidates(
    prev: DataFrame | None,
    batch: DataFrame,
    merged_sketch: DataFrame,
    keys: Sequence[str],
    value_col: str,
    *,
    m: int = 32,
) -> DataFrame:
    """Maintain the candidate set CMS alone can't give you (a sketch
    estimates counts for values you NAME; enumerating heavy hitters
    needs the standing top-m per group): re-rank (previous candidates
    UNION batch's distinct values) by the merged sketch's estimate, keep
    m. A true heavy hitter is present in some batch, and its one-sided
    estimate only grows, so once ranked into the top m it can only be
    displaced by heavier (estimated) values. Output: (keys..., value
    aliased to `value_col`, cms_est, rnk). O(|groups| * m + |batch
    distinct|) state and cost per fold."""
    from pyspark.sql import Window

    vals = batch.select(*keys, F.col(value_col)).distinct()
    if prev is not None:
        vals = vals.unionByName(
            prev.select(*keys, F.col(value_col))
        ).distinct()
    est = estimate_freq(merged_sketch, vals, keys, value_col)
    w = Window.partitionBy(*keys).orderBy(
        F.col("cms_est").desc(), F.col(value_col)
    )
    return (
        est.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= m)
        .select(*keys, value_col, "cms_est", "rnk")
    )


# ---------------------------------------------------------------------------
# Mergeable uniform-sample sketches (KMV / bottom-k)
#
# The fourth census column: "show me representative rows". A naive
# reservoir sample is order-sensitive and random — useless for replayed
# streams and impossible to oracle-check. The mergeable answer is a
# K-MINIMUM-VALUES sketch: hash every distinct value with a FIXED public
# hash and keep the k smallest (hash, value) pairs per group. Because
# min-of-union = union-of-mins, merging is associative, commutative, AND
# idempotent — any batching, any arrival order, and any replay converge
# to exactly the one-shot sketch (property-tested; the strongest of the
# incremental family — stronger than the CMS/quantile counters, which
# add). A uniform hash makes the kept set a uniform sample of the
# group's distinct values, and the k-th smallest hash doubles as a
# distinct-count estimator: ndv ~ (k-1) * P / h_k (std error ~
# 1/sqrt(k-2)).
#
# The hash is the same literal Mersenne-prime affine arithmetic as the
# CMS rows (constants from the public-domain MINSTD generator), so a
# SQL oracle replays every hash, the full sample membership, AND the
# NDV estimate bit-for-bit — unlike the engine-private HLL sketch,
# whose estimate the catalog can only bound.
# ---------------------------------------------------------------------------

KMV_K = 64  # sample size per group; NDV std error ~ 1/sqrt(k-2) ~ 13%
KMV_A = 48271  # MINSTD multiplier (public-domain Lehmer constant)
KMV_B = 33554393  # fixed odd offset (prime; any constant works)


def _kmv_hash(value_col: str):
    """Fixed public hash into [0, P): (a * residue + b) mod P, with the
    sign-safe residue the CMS rows use. a*r < 2^48 — exact in int64."""
    r = _cms_residue(value_col)
    return (F.lit(KMV_A) * r + F.lit(KMV_B)) % F.lit(CMS_P)


def group_sample_sketch(
    df: DataFrame, keys: Sequence[str], value_col: str, *, k: int = KMV_K
) -> DataFrame:
    """Per-group KMV sketch of `value_col`: (keys..., ksample
    array<struct<h,v>> — the k smallest-hashed DISTINCT non-null values,
    sorted by (h, v)). Cost: one distinct shuffle over the batch + one
    per-group sort bounded by |batch distinct|; sketch size is a fixed
    <= k structs per group regardless of group cardinality."""
    from pyspark.sql import Window

    d = (
        df.filter(F.col(value_col).isNotNull())
        .select(*keys, F.col(value_col).cast("long").alias("v"))
        .distinct()
    )
    w = Window.partitionBy(*keys).orderBy("h", "v")
    return (
        d.withColumn("h", _kmv_hash("v"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("h", "v"))).alias("ksample"))
    )


def merge_sample_sketches(
    prev: DataFrame | None, batch_sketch: DataFrame, keys: Sequence[str],
    *, k: int = KMV_K,
) -> DataFrame:
    """Fold a batch's KMV table into the standing one: union the kept
    pairs, dedup, re-keep the k smallest. min-of-union = union-of-mins,
    so this is associative + commutative + IDEMPOTENT — replayed batches
    are harmless even without the batch-id guard (the guard stays on in
    the streaming loop as belt-and-braces, like the HLL table). Cost:
    one shuffle over <= 2k rows per group."""
    from pyspark.sql import Window

    if prev is None:
        return batch_sketch
    u = prev.unionByName(batch_sketch)
    ex = u.select(*keys, F.explode("ksample").alias("e")).select(
        *keys, F.col("e.h").alias("h"), F.col("e.v").alias("v")
    ).distinct()
    w = Window.partitionBy(*keys).orderBy("h", "v")
    return (
        ex.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("h", "v"))).alias("ksample"))
    )


def sample_rows(sketches: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Explode the stored sketches to sampled rows: (keys..., v, h, rnk
    — rank by hash, i.e. uniform-sample order)."""
    ex = sketches.select(
        *keys, F.posexplode("ksample").alias("pos", "e")
    )
    return ex.select(
        *keys,
        F.col("e.v").alias("v"),
        F.col("e.h").alias("h"),
        (F.col("pos") + 1).cast("int").alias("rnk"),
    )


def estimate_distinct_kmv(
    sketches: DataFrame, keys: Sequence[str], *, k: int = KMV_K
) -> DataFrame:
    """Read-time NDV estimate from the stored sketches: exact when the
    group holds fewer than k distinct values (the sketch IS the distinct
    set), else (k-1) * P / h_k with h_k the k-th smallest hash. Every op
    is exact int64 + one IEEE divide over a precomputed literal, so the
    estimate replays bit-for-bit in the SQL oracle. Output: (keys...,
    sample_size, ndv_est)."""
    size = F.size("ksample")
    hk = F.col("ksample")[k - 1]["h"].cast("double")
    # (k-1) * P precomputed as ONE double literal for THIS k so both
    # engines divide the same bits (exact while (k-1)*P < 2^53)
    num = float((k - 1) * CMS_P)
    est = F.when(size < k, size.cast("double")).otherwise(
        F.lit(num) / F.greatest(hk, F.lit(1.0))
    )
    return sketches.select(
        *keys,
        size.cast("int").alias("sample_size"),
        est.alias("ndv_est"),
    )


def _signed_images(
    parsed: DataFrame,
    keys: Sequence[str],
    value_col: str,
    before_col: str,
    cast: str,
) -> DataFrame:
    """One-pass (keys..., v, sign) signed image rows for the CDC delta
    builders: each row emits its assert (+1, after image) and/or
    retract (-1, before image) entry via a map-side inline explode —
    ONE scan of the parsed batch. The obvious
    `asserts.unionByName(retracts)` spelling executes the upstream
    parse once per branch (a union's children are independent
    subtrees; the JSON parse is the expensive node), which doubled the
    hot-path cost of every current-state fold."""
    op = F.col(OP_COL)
    before = F.col(before_col)
    a_entry = F.when(
        op != DELETE_OP,
        F.struct(
            *[F.col(k).alias(k) for k in keys],
            F.col(value_col).cast(cast).alias("v"),
            F.lit(1).alias("sign"),
        ),
    )
    r_entry = F.when(
        op.isin(UPDATE_OP, DELETE_OP) & before.isNotNull(),
        F.struct(
            *[before[k].alias(k) for k in keys],
            before[value_col].cast(cast).alias("v"),
            F.lit(-1).alias("sign"),
        ),
    )
    return (
        parsed.select(F.explode(F.array(a_entry, r_entry)).alias("e"))
        .filter(F.col("e").isNotNull())
        .select("e.*")
    )


def group_stats_cdc(
    parsed: DataFrame,
    keys: Sequence[str],
    value_col: str,
    *,
    before_col: str = "_before_img",
) -> DataFrame:
    """CURRENT-STATE census delta from one CDC batch carrying BEFORE
    images (route_parse_debezium(emit_before=True)): an insert/snapshot
    asserts its after (+1), an update retracts its before AND asserts
    its after, a delete retracts its before — so folding the deltas
    tracks group_stats of the LIVE table through updates and deletes,
    the gap the plain observation census (`group_stats`, an EVENT
    census by contract) deliberately does not cover. Group-changing
    updates are exact: the retraction lands in the BEFORE row's group,
    the assertion in the after's.

    Emits (keys..., n, sum, sumsq) signed deltas — min/max are not
    invertible under deletion and are intentionally absent (keep the
    event census alongside when "extrema ever seen" matter). Values
    cast to long like group_stats, so each image's truncation
    telescopes exactly across retract/assert and the fold replays
    bit-for-bit in SQL.

    Rows whose retraction side lacks a before image (a connector not
    configured to emit them) are skipped on that side — the census
    silently degrades to append-only semantics for exactly those rows,
    so feed this only from before-emitting sources.

    One map-side signed-image explode (_signed_images — one scan, not
    a per-branch union) + one combinable shuffle over |batch| rows;
    the standing table is never read."""
    ex = _signed_images(parsed, keys, value_col, before_col, "long")
    s = F.col("sign")
    v = F.col("v")
    return ex.groupBy(*keys).agg(
        F.sum(s).alias("n"),
        F.sum(s * v).alias("sum"),
        F.sum(s * v * v).alias("sumsq"),
    )


def group_freq_sketch_cdc(
    parsed: DataFrame,
    keys: Sequence[str],
    value_col: str,
    *,
    before_col: str = "_before_img",
) -> DataFrame:
    """CURRENT-STATE Count-Min delta from one CDC batch carrying BEFORE
    images — the heavy-hitter companion to `group_stats_cdc`: CMS
    counters are plain sums, and sums RETRACT, so an update subtracts
    its before image's d bucket increments and adds its after's, and a
    delete subtracts the state being removed. Folding the signed deltas
    (merge_freq_sketches_cdc) keeps the standing sketch equal to
    `group_freq_sketch` over the LIVE table at every point — estimates
    keep the one-sided >= guarantee against LIVE counts, which the
    event-census sketch loses the moment a row is deleted.

    Retractability boundary (why only SOME of the incremental family
    gets a _cdc variant): counter sketches form a GROUP under signed
    addition — CMS here, the quantile histogram via
    group_quantile_sketch_cdc — but the extremal sketches only form a
    monoid:
    HLL-style max-of-hashes (group_distinct_sketch), KMV bottom-k mins
    (group_sample_sketch), and min/max themselves cannot un-see a
    deleted value. Those stay event censuses by contract; rebuild from
    the live table when current-state versions are needed.

    Same shape as group_freq_sketch: one map-side signed-image explode
    (_signed_images — one scan, not a per-branch union) + one
    combinable (group, position) shuffle over d*|batch| rows,
    dense-packed to a d*w array per touched group; the standing table
    is never read. Rows lacking a before image degrade to append-only
    on the retract side, like group_stats_cdc."""
    ex = _signed_images(parsed, keys, value_col, before_col, "long")
    r = _cms_residue("v")
    positions = F.array(
        *[(_cms_bucket(r, i) + F.lit(i * CMS_W)).cast("int")
          for i in range(CMS_D)]
    )
    size = CMS_D * CMS_W
    return (
        ex.select(*keys, "sign", F.explode(positions).alias("pos"))
        .groupBy(*keys, "pos")
        .agg(F.sum("sign").alias("n"))
        .groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("pos", "n"))
            ).alias("m")
        )
        .select(
            *keys,
            F.transform(
                F.sequence(F.lit(0), F.lit(size - 1)),
                lambda p: F.coalesce(
                    F.element_at("m", p.cast("int")), F.lit(0).cast("long")
                ),
            ).alias("cms"),
        )
    )


def merge_freq_sketches_cdc(
    prev: DataFrame | None, delta: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Fold a signed CMS delta into the standing current-state sketch:
    the same element-wise addition as merge_freq_sketches (retract/
    assert pairs telescope inside it), then groups whose live
    population reached zero disappear — a live group always carries
    positive counter mass (each live row adds +1 to d buckets), so
    all-zero == empty, matching group_freq_sketch over the live table.
    NOT replay-idempotent — guard with the batch-id pointer."""
    merged = merge_freq_sketches(prev, delta, keys)
    return merged.filter(F.exists("cms", lambda x: x != F.lit(0)))


def group_quantile_sketch_cdc(
    parsed: DataFrame,
    keys: Sequence[str],
    value_col: str,
    *,
    before_col: str = "_before_img",
) -> DataFrame:
    """CURRENT-STATE quantile-histogram delta from one CDC batch with
    BEFORE images: the log-bucket counts are sums, and sums retract —
    an update subtracts its before image's bucket increment and adds
    its after's, a delete subtracts the state being removed. Folding
    the signed deltas (merge_quantile_sketches_cdc) keeps the standing
    sketch equal to `group_quantile_sketch` over the LIVE table, so
    read-time estimates (estimate_quantiles) track current state
    through churn — the third member of the retractable counter
    family next to group_stats_cdc and group_freq_sketch_cdc.

    Both sides bucket the value through the identical cast+log2 chain
    (_qsk_bucket), so each image's bucket id telescopes exactly across
    its retract and assert. Same shape as group_quantile_sketch: one
    map-side signed-image explode (_signed_images — one scan, not a
    per-branch union) + one combinable (group, bucket) shuffle; rows
    lacking a before image degrade to append-only on the retract
    side."""
    ex = _signed_images(parsed, keys, value_col, before_col, "double")
    return (
        ex.select(*keys, _qsk_bucket("v").alias("b"), "sign")
        .groupBy(*keys, "b")
        .agg(F.sum("sign").alias("n"))
        .groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("b", "n"))
            ).alias("qsketch")
        )
    )


def merge_quantile_sketches_cdc(
    prev: DataFrame | None, delta: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Fold a signed quantile-histogram delta into the standing
    current-state sketch: per-bucket signed addition, then buckets
    whose live count reached zero drop and groups with no occupied
    bucket disappear — matching group_quantile_sketch over the live
    table entry-for-entry. The zero-drop filters on != 0 (not > 0) so
    out-of-order folds stay commutative: a transiently negative bucket
    is carried until its assert arrives. NOT replay-idempotent — guard
    with the batch-id pointer."""
    u = delta if prev is None else prev.unionByName(delta)
    return (
        u.select(*keys, F.explode("qsketch").alias("e"))
        .groupBy(*keys, F.col("e.b").alias("b"))
        .agg(F.sum("e.n").alias("n"))
        .filter(F.col("n") != 0)
        .groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("b", "n"))
            ).alias("qsketch")
        )
    )


def merge_group_stats_cdc(
    prev: DataFrame | None, delta: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Fold one batch's signed census delta into the standing current-
    state stats: n/sum/sumsq add; groups whose live population reached
    zero disappear (matching a group-by over the live table). NOT
    replay-idempotent — guard with the batch-id pointer like
    group_stats. Associative and commutative over batches, so any
    arrival order converges to group_stats of the final live state
    (property: retract/assert pairs telescope)."""
    merged = delta if prev is None else (
        prev.unionByName(delta)
        .groupBy(*keys)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum").alias("sum"),
            F.sum("sumsq").alias("sumsq"),
        )
    )
    return merged.filter(F.col("n") > 0)
