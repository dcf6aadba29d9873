"""Distributed k-means over the embedding column (Lloyd's algorithm).

The missing piece between near-dup detection and similarity search: corpus
clustering (topic bucketing, IVF centroid training, diversity sampling all
start from a k-means pass over document embeddings).

Shape at 100 TB — the same one MLlib's KMeans uses, re-expressed with
native DataFrame ops:

  * ASSIGNMENT is map-only, zero shuffle: the k centroids are a broadcast
    LITERAL array of structs; each row computes argmin-distance with
    `array_min(transform(...))` over that array. No crossJoin, no window —
    the corpus never moves.
  * UPDATE is one combinable shuffle: posexplode to (cell, coord_idx, x),
    groupBy(cell, idx) with map-side partial aggregation — every task emits
    at most k*d rows regardless of input size, and the driver collects only
    k*d sums per iteration (k=8, d<=1k: trivial).
  * One driver barrier per iteration — inherent to Lloyd's; iteration count
    is fixed and small.

Cross-engine determinism (the DuckDB oracle replays every iteration):

  * Distances use the expanded form (dot(e,e) - 2*dot(e,c)) + dot(c,c) with
    fixed association; both engines fold dot products sequentially over the
    array, which round 1 verified bit-identical (similarity.py).
  * The centroid MEAN is the one place floating-point addition would cross
    rows — and cross-row aggregation order is not deterministic in either
    engine. So coordinates are summed in FIXED-POINT: floor(x * 2^20) as
    long. Long sums are exact and order-independent; headroom is ample
    (|x|<=1e3 => 2^30 per row; 2^33 rows before overflow). The mean
    double(sum)/double(n)/2^20 is two IEEE ops (the last exact — 2^20 is a
    power of two), identical everywhere.
  * Argmin ties break on centroid id (struct comparison), matching the
    oracle's `ORDER BY d2, cent_id` row_number.

No analog in the reference (pure CDC engine) — this extends the engine for
training-data curation alongside dedup/ANN (SURVEY §2 "beyond reference").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import spread
from .similarity import _dbl, dot_col

_FIX = float(1 << 20)  # fixed-point scale for order-independent mean sums


def _cent_literal(centroids: list[tuple[int, list[float]]]) -> Column:
    """Broadcast the centroid set as a literal array<struct<cent_id,ce,cc>>.
    cc (the centroid's self-dot) is folded engine-side per assignment row?
    No — it is a per-centroid constant, so it is folded HERE in Python with
    the same sequential order both engines use; Python floats are IEEE
    doubles, so the constant is bit-identical to an engine-side fold."""
    entries = []
    for cid, ce in centroids:
        cc = 0.0
        for x in ce:
            cc = cc + x * x
        entries.append(
            F.struct(
                F.lit(int(cid)).alias("cent_id"),
                F.array(*[F.lit(float(x)) for x in ce]).alias("ce"),
                F.lit(cc).alias("cc"),
            )
        )
    return F.array(*entries)


def assign_cells(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only nearest-centroid assignment: (id, e double[], cell).

    d2 = (dot(e,e) - 2*dot(e,c)) + c.cc per centroid via a higher-order
    transform over the literal centroid array; argmin+tiebreak via
    array_min over struct(d2, cent_id). Zero shuffle, zero Python rows.
    """
    cents = _cent_literal(centroids)
    e = _dbl(F.col(vec_col))
    ee = dot_col(F.col(vec_col), F.col(vec_col))
    scored = F.transform(
        cents,
        lambda c: F.struct(
            ((ee - F.lit(2.0) * dot_col(F.col(vec_col), c["ce"])) + c["cc"]).alias(
                "d2"
            ),
            c["cent_id"].alias("cent_id"),
        ),
    )
    return spread(emb).select(
        F.col(id_col),
        e.alias("__e"),
        F.array_min(scored)["cent_id"].alias("cell"),
    )


def kmeans(
    emb: DataFrame,
    *,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means: `iters` assign+update rounds, then a final
    assignment under the converged centroids. Deterministic init: the k
    vectors with the smallest ids, labeled cent_id = 0..k-1 in id order.

    Returns (id, cell, cell_size) — the cluster membership plus its size
    (the signal diversity-sampling and IVF cell-balance checks read).
    Empty cells keep their previous centroid (k-means standard practice).
    """
    centroids = _lloyd(emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    final = assign_cells(emb, centroids, id_col=id_col, vec_col=vec_col)
    # cell_size via a k-row groupBy broadcast-joined back, NOT
    # count(*) OVER (PARTITION BY cell): `cell` has cardinality k over a
    # corpus-sized relation, so the window spelling funnels every
    # cluster's full membership through one task at scale. The groupBy
    # is map-side-combined and its k-row result broadcasts for free.
    sizes = final.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_size"))
    return final.select(F.col(id_col), "cell").join(
        F.broadcast(sizes), "cell", "left"
    ).select(F.col(id_col), "cell", "cell_size")


def kmeans_centroids(
    emb: DataFrame,
    *,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The converged centroid VECTORS from the same Lloyd loop as `kmeans`,
    as a (cent_id, c_emb) DataFrame — the shape `similarity.ivf_topk` and
    `streaming/ann_ingest.AnnIngest` take as an index's centroid set.
    This is the trainer the drift-triggered IVF rebuild calls: retrain on
    the standing corpus, build a NEW index version, swap atomically."""
    centroids = _lloyd(emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    return emb.sparkSession.createDataFrame(
        [(cid, [float(x) for x in ce]) for cid, ce in centroids],
        "cent_id int, c_emb array<double>",
    )


def _lloyd(
    emb: DataFrame,
    *,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
) -> list[tuple[int, list[float]]]:
    """`iters` assign+update rounds; returns the converged centroid list
    (see `kmeans` for the determinism contract).

    Re-scanning the input per action is DELIBERATE: an r13 A/B probe (4M
    vectors) measured a localCheckpoint'ed (id, double-cast vector)
    relation 29% SLOWER than replaying the scan — the materialized rows
    store EXPANDED double arrays (2x the float parquet bytes plus block
    overhead), while the column-pruned compressed scan parallelizes
    perfectly and assignment is compute-bound anyway. Unlike the engine's
    other checkpoint wins, nothing expensive (explode, hash, join) is
    saved here."""
    seed = (
        emb.select(F.col(id_col), _dbl(F.col(vec_col)).alias("e"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    centroids = [(i, list(r["e"])) for i, r in enumerate(seed)]

    for _ in range(iters):
        assigned = assign_cells(emb, centroids, id_col=id_col, vec_col=vec_col)
        sums = (
            assigned.select(
                "cell", F.posexplode("__e").alias("j", "x")
            )
            .groupBy("cell", "j")
            .agg(
                F.sum(F.floor(F.col("x") * F.lit(_FIX)).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()  # k*d rows — the per-iteration driver barrier
        )
        new = {}
        for r in sums:
            new.setdefault(r["cell"], {})[r["j"]] = (r["s"] / r["n"]) / _FIX
        centroids = [
            (
                cid,
                [by_j[j] for j in range(len(ce))]
                if (by_j := new.get(cid))
                else ce,  # empty cell: keep previous centroid
            )
            for cid, ce in centroids
        ]
    return centroids
