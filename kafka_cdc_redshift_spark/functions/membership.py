"""Mergeable Bloom-filter membership sketches for corpus-scale
decontamination.

`curation.decontaminate` / `contamination_score` probe eval-set
membership with a broadcast join on distinct 60-bit shingle hashes.
That is the right plan while the distinct-hash relation fits a
broadcast, but a full eval SUITE (every benchmark's every n-gram) can
reach billions of longs — tens of GB as a join relation. The classic
engine answer (the same one Spark itself uses for runtime join
pruning) is a BLOOM FILTER: m bits, d probes per value, one-sided
error — a bloom MISS is a certified true negative, a hit might be a
false positive. At 100 TB the overwhelming majority of training
shingles miss, so the bloom turns the exact membership join into a
map-side pre-filter: clean docs never shuffle at all, and the exact
join runs only over the bloom-positive sliver. That pre-filter is
`contamination_prefilter_from_hashes`, over the (doc_id, gh) relation
`curation.doc_shingle_hashes` builds.

Everything here is engine-portable by construction, like the
incremental sketch family (`functions/incremental.py`): positions come
from the same literal Mersenne-prime affine hashes as the CMS rows, the
bitset packs 32 bits per int64 word (no sign bit in play in either
engine), and words combine with bit_or — associative, commutative, and
IDEMPOTENT, so blooms built per-batch/per-benchmark union losslessly
and replays are harmless. A SQL oracle replays every bit
(`plans/catalog_llm.py: doc_contamination_bloom`).

No reference-repo analog: the reference's pipeline (emr_ec2/
cdc_redshift.py) has no membership sketch; this extends the engine's
LLM-curation surface (SURVEY §2 D-family) along its documented scale
axis.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .incremental import CMS_A, CMS_B, CMS_P

BLOOM_M = 8192  # bits; FP rate ~ (1 - e^(-d*n/m))^d — size to the eval set
BLOOM_D = 4  # probes per value (reuses the 4 CMS hash rows)
_BPW = 32  # bits per word: int64 words never touch the sign bit, so
#: shift-free power-of-two literals evaluate identically in any engine
_POW2 = tuple(1 << b for b in range(_BPW))


def _pow2_col(bit: Column) -> Column:
    """2^bit as a literal-array lookup (no shift builtins needed — the
    same cross-engine trick as QSK_POW2_FRAC)."""
    return F.element_at(
        F.array(*[F.lit(v).cast("long") for v in _POW2]), bit.cast("int") + 1
    )


def _positions(hash_col: Column, *, m: int, d: int) -> list[Column]:
    """The d bit positions of a (non-negative 60-bit) hash: row-i CMS
    affine hash mod P mod m. a * r < 2^62 — exact in int64."""
    r = ((hash_col % F.lit(CMS_P)) + F.lit(CMS_P)) % F.lit(CMS_P)
    return [
        ((F.lit(CMS_A[i]) * r + F.lit(CMS_B[i])) % F.lit(CMS_P)) % F.lit(m)
        for i in range(d)
    ]


def bloom_from_hashes(
    df: DataFrame, hash_col: str, *, m: int = BLOOM_M, d: int = BLOOM_D
) -> DataFrame:
    """Build a bloom over a column of non-negative int64 hashes: ONE row
    (bloom array<long>, length m/32, dense). Cost: explode to d
    positions per value, one combinable bit_or shuffle down to <= m/32
    words (bit_or needs no upstream distinct — it is idempotent), then a
    single-row dense pack. The result is the broadcastable bitset: m
    bits regardless of input cardinality."""
    h = F.col(hash_col)
    pos = F.explode(F.array(*_positions(h, m=m, d=d))).alias("pos")
    words = (
        df.select(pos)
        .select(
            F.floor(F.col("pos") / _BPW).cast("int").alias("w"),
            _pow2_col(F.col("pos") % _BPW).alias("pw"),
        )
        .groupBy("w")
        .agg(F.bit_or("pw").alias("word"))
    )
    size = m // _BPW
    return words.groupBy().agg(
        F.map_from_entries(F.collect_list(F.struct("w", "word"))).alias("mm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(size - 1)),
            lambda i: F.coalesce(
                F.element_at("mm", i.cast("int")), F.lit(0).cast("long")
            ),
        ).alias("bloom")
    )


def merge_blooms(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two blooms of the same geometry: element-wise bitwise OR —
    associative, commutative, idempotent, so per-benchmark / per-batch
    blooms fold in any order and replays are no-ops (property-tested)."""
    u = a.unionByName(b)
    first = F.aggregate(
        F.collect_list("bloom"),
        F.array().cast("array<long>"),
        lambda acc, x: F.when(F.size(acc) == 0, x).otherwise(
            F.zip_with(acc, x, lambda p, q: p.bitwiseOR(q))
        ),
    )
    return u.groupBy().agg(first.alias("bloom"))


def bloom_hit_col(
    hash_col: Column, bloom_col: Column, *, m: int = BLOOM_M, d: int = BLOOM_D
) -> Column:
    """True iff all d probe bits for the hash are set — the map-side
    membership test. A False is a certified true negative (no false
    negatives); a True still needs the exact join if exactness matters."""
    probes = []
    for p in _positions(hash_col, m=m, d=d):
        word = F.element_at(bloom_col, F.floor(p / _BPW).cast("int") + 1)
        probes.append(word.bitwiseAND(_pow2_col(p % _BPW)) != 0)
    hit = probes[0]
    for q in probes[1:]:
        hit = hit & q
    return hit


def contamination_prefilter_from_hashes(
    tr: DataFrame,
    bloom: DataFrame,
    *,
    m: int = BLOOM_M,
    d: int = BLOOM_D,
) -> DataFrame:
    """Per-document bloom-screened contamination counts:
    (doc_id, n_shingles, bloom_matched) over an ALREADY-BUILT (doc_id,
    gh) relation — build it with curation.doc_shingle_hashes, the one
    tokenize + shingle + hash60 spelling. `bloom_matched` is a
    guaranteed UPPER bound on the exact match count (one-sided; the
    audit query pins bloom_matched >= n_matched), so `bloom_matched = 0`
    certifies a doc clean with zero join work — route only the rest
    through the exact `contamination_score_from_hashes` join. The
    bloom-vs-exact audit builds the explode once, checkpoints it, and
    threads it through both.

    Plan shape: a 1-row broadcast nested-loop join attaches the bitset
    and the d probes evaluate map-side — no shuffle of eval data at
    all, and the per-doc rollup is the only exchange."""
    probed = tr.join(F.broadcast(bloom)).withColumn(
        "__hit", bloom_hit_col(F.col("gh"), F.col("bloom"), m=m, d=d)
    )
    return probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.col("__hit").cast("long")).alias("bloom_matched"),
    )
