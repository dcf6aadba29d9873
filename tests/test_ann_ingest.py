"""Streaming IVF index (streaming/ann_ingest.py): streamed ingest must
serve EXACTLY the batch ivf_topk results over the same corpus and
centroids, survive replays and restarts (persisted centroids), and
measure its own staleness (centroid_drift)."""

import pytest
from pyspark.sql import functions as F

from kafka_cdc_redshift_spark.functions import similarity
from kafka_cdc_redshift_spark.sources import load_table
from kafka_cdc_redshift_spark.streaming.ann_ingest import AnnIngest
from kafka_cdc_redshift_spark.streaming.store import AppendLog

# multi-minute churn/e2e module: marked slow, but it runs in the default
# suite like every test; deselect it for a quick loop with -m "not slow"
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def centroids(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )


def _topk_key(r):
    return (r.q_id, r.rnk, r.neighbor_id, round(r.cos_sim, 9))


def test_streamed_index_serves_batch_ivf_results(
    spark, emb, centroids, queries, tmp_path
):
    want = sorted(
        map(_topk_key, similarity.ivf_topk(
            emb, queries, centroids, k=3, nprobe=2).collect())
    )
    assert want

    ann = AnnIngest(AppendLog(str(tmp_path / "state")), centroids=centroids)
    for b in range(3):
        ann.process_batch(emb.filter(F.col("vec_id") % 3 == b), b)
    got = sorted(map(_topk_key, ann.topk(queries, k=3, nprobe=2).collect()))
    assert got == want


def test_streamed_index_replay_and_restart(
    spark, emb, centroids, queries, tmp_path
):
    log = AppendLog(str(tmp_path / "state"))
    ann = AnnIngest(log, centroids=centroids)
    b0 = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 2 == 1)
    ann.process_batch(b0, 0)
    ann.process_batch(b1, 1)
    n = log.read(spark, ann.cells_table).count()
    # at-least-once replay: a retried batch is a no-op
    ann.process_batch(b1, 1)
    assert log.read(spark, ann.cells_table).count() == n

    # restart: a fresh AnnIngest over the same log recovers the SAME
    # persisted centroids and serves identical results
    ann2 = AnnIngest(AppendLog(str(tmp_path / "state")))
    got2 = sorted(map(_topk_key, ann2.topk(queries, k=3, nprobe=2).collect()))
    want = sorted(
        map(_topk_key, similarity.ivf_topk(
            emb, queries, centroids, k=3, nprobe=2).collect())
    )
    assert got2 == want

    # swapping centroids under a standing index is refused
    with pytest.raises(ValueError, match="already has persisted centroids"):
        AnnIngest(AppendLog(str(tmp_path / "state")), centroids=centroids)


def test_centroid_drift_signal(spark, emb, tmp_path):
    """Centroids equal to each cell's true mean -> drift sim ~ 1.0; an
    arbitrary (first-k-vectors) centroid set scores strictly lower on at
    least one cell — the staleness signal a rebuild schedule reads."""
    from kafka_cdc_redshift_spark.functions.clustering import kmeans

    arbitrary = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    ann = AnnIngest(AppendLog(str(tmp_path / "s1")), centroids=arbitrary)
    ann.process_batch(emb, 0)
    drift = {r.cell: r.mean_sim for r in ann.centroid_drift(spark).collect()}
    assert drift and all(-1.0 <= s <= 1.0 + 1e-9 for s in drift.values())

    # trained centroids (k-means cell means) must sit closer to their
    # cells' means than the arbitrary seed does on average
    assigned = kmeans(emb, k=8, iters=2)
    # build centroid vectors = converged cell means via one agg
    cells = emb.join(assigned.select("vec_id", "cell"), "vec_id")
    dims = cells.select("cell", F.posexplode("embedding").alias("j", "x")) \
        .groupBy("cell", "j").agg(F.avg(F.col("x").cast("double")).alias("m"))
    trained = (
        dims.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("j", "m"))).alias("jm"))
        .select(F.col("cell").alias("cent_id"),
                F.transform("jm", lambda s: s["m"]).alias("c_emb"))
    )
    ann2 = AnnIngest(AppendLog(str(tmp_path / "s2")), centroids=trained)
    ann2.process_batch(emb, 0)
    drift2 = {r.cell: r.mean_sim for r in ann2.centroid_drift(spark).collect()}
    import statistics

    assert statistics.mean(drift2.values()) >= statistics.mean(drift.values())


def test_versioned_index_drift_rebuild_swaps_atomically(
    spark, emb, queries, tmp_path
):
    """The drift loop closed: a VersionedAnnIndex whose weighted drift
    falls below the floor retrains (kmeans_centroids on the standing
    corpus), snapshots into a NEW index version, and flips the pointer —
    after which topk equals the batch ivf_topk under the retrained
    centroids, and pre-swap batch replays are watermark-skipped."""
    from kafka_cdc_redshift_spark.streaming.ann_ingest import VersionedAnnIndex

    idx = VersionedAnnIndex(
        AppendLog(str(tmp_path / "state")), name="vx",
        n_centroids=4, drift_floor=1.1,  # floor > max sim -> always rebuild
    )
    b0 = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 2 == 1)
    idx.process_batch(b0, 0)   # bootstraps v0 (centroids train on b0)
    idx.process_batch(b1, 1)
    assert idx.current_version() == 0
    v0_cents = idx.current().centroids(spark)
    want_v0 = sorted(map(_topk_key, similarity.ivf_topk(
        emb, queries, v0_cents, k=3, nprobe=2).collect()))
    assert sorted(map(_topk_key, idx.topk(queries, k=3, nprobe=2).collect())) \
        == want_v0

    assert idx.maintain(spark) is True
    assert idx.current_version() == 1
    # post-rebuild serving == batch ivf under the RETRAINED centroids
    v1_cents = idx.current().centroids(spark)
    want_v1 = sorted(map(_topk_key, similarity.ivf_topk(
        emb, queries, v1_cents, k=3, nprobe=2).collect()))
    got_v1 = sorted(map(_topk_key, idx.topk(queries, k=3, nprobe=2).collect()))
    assert got_v1 == want_v1
    # the retrained set is a real swap, not a copy
    assert sorted(map(tuple, v1_cents.collect())) != sorted(
        map(tuple, v0_cents.collect())
    )

    # replay-safe across the swap: pre-swap batch ids are <= watermark
    log = idx.log
    n = log.read(spark, idx.current().cells_table).count()
    idx.process_batch(b0, 0)
    idx.process_batch(b1, 1)
    assert log.read(spark, idx.current().cells_table).count() == n
    assert sorted(map(_topk_key, idx.topk(queries, k=3, nprobe=2).collect())) \
        == want_v1
    # a genuinely NEW batch still ingests into the new version
    idx.process_batch(emb.filter(F.col("vec_id") % 7 == 3), 2)
    assert log.read(spark, idx.current().cells_table).count() > n


def test_versioned_index_no_rebuild_when_disabled_or_above_floor(
    spark, emb, tmp_path
):
    from kafka_cdc_redshift_spark.streaming.ann_ingest import VersionedAnnIndex

    idx = VersionedAnnIndex(
        AppendLog(str(tmp_path / "state")), name="vd",
        n_centroids=4, drift_floor=0.0,  # disabled
    )
    idx.process_batch(emb, 0)
    assert idx.maintain(spark) is False
    assert idx.current_version() == 0
    # trained-on-the-full-corpus centroids sit near their cell means: a
    # modest floor does not trigger either
    idx2 = VersionedAnnIndex(
        AppendLog(str(tmp_path / "s2")), name="vh",
        n_centroids=4, drift_floor=0.05,
    )
    idx2.process_batch(emb, 0)
    assert idx2.current().weighted_drift(spark) > 0.05
    assert idx2.maintain(spark) is False


def test_ann_ingest_properties_driven_e2e(spark, sf_dir, tmp_path):
    """The round-5 gap: AnnIngest drivable from the .properties surface.
    A bare sync rule with ann_* keys runs the incremental index inside
    the unchanged CDC shell; the served topk equals batch ivf_topk over
    the same corpus and the index's persisted centroids, and the
    maintenance cycle owns the drift loop."""
    from kafka_cdc_redshift_spark.config import parse_sync_rules
    from kafka_cdc_redshift_spark.sources import load_table
    from kafka_cdc_redshift_spark.streaming import (
        CdcBatchProcessor,
        ParquetTargetStore,
    )

    rules = parse_sync_rules(
        '[{"db": "ml", "table": "embeddings", "primary_key": "vec_id", '
        '"ann_ingest": "true", "ann_vec_column": "embedding", '
        '"ann_n_centroids": "4", "ann_drift_floor": "1.1"}]'
    )
    r = rules[0]
    assert (r.ann_ingest, r.ann_vec_column, r.ann_n_centroids,
            r.ann_drift_floor) == (True, "embedding", 4, 1.1)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    env = emb.select(
        F.to_json(
            F.struct(
                F.lit(None).cast("string").alias("before"),
                F.struct("vec_id", "embedding").alias("after"),
                F.struct(
                    F.lit("ml").alias("db"),
                    F.lit("embeddings").alias("table"),
                    F.col("vec_id").alias("ts_ms"),
                ).alias("source"),
                F.lit("c").alias("op"),
                F.col("vec_id").alias("ts_ms"),
            )
        ).alias("value")
    )
    store = ParquetTargetStore(str(tmp_path / "store"))
    proc = CdcBatchProcessor(
        spark, rules, store,
        payload_schemas={"embeddings": emb.schema},
        compact_every_n_batches=1,  # maintenance (drift check) every batch
    )
    # two micro-batches through the shell
    b0 = env.filter(F.crc32(F.col("value")) % 2 == 0)
    b1 = env.filter(F.crc32(F.col("value")) % 2 == 1)
    s0 = proc.process_batch(b0, 0)
    assert [x.status for x in s0] == ["finished"]
    ann = proc._ingestor(rules[0], "ann_ingest")
    assert ann.current_version() >= 0
    s1 = proc.process_batch(b1, 1)
    assert [x.status for x in s1] == ["finished"]

    # floor 1.1 forces a rebuild in the batch-1 maintenance cycle
    assert ann.current_version() >= 1
    assert not [e for e in proc.compact_errors if "_ann_index" in e[0]], (
        proc.compact_errors
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cents = ann.current().centroids(spark)
    want = sorted(map(_topk_key, similarity.ivf_topk(
        emb, queries, cents, k=3, nprobe=2).collect()))
    got = sorted(map(_topk_key, ann.topk(queries, k=3, nprobe=2).collect()))
    assert got == want and got


def test_streamed_pq_codes_serve_batch_rerank_results(
    spark, emb, centroids, queries, tmp_path
):
    """With codebooks=, the index maintains the PQ code relation
    incrementally; pq_rerank over the streamed codes must equal batch
    pq_shortlist_rerank over the same corpus+codebooks (codes are
    assignment-deterministic, so ANY batching converges), a replayed
    batch must be a no-op, and the crash window between the cells and
    codes appends must heal on replay."""
    cb = similarity.subvector_codebooks(
        emb.filter(F.col("vec_id") < 8), n_sub=4
    )
    want = sorted(
        (r.q_id, r.rnk, r.neighbor_id, round(r.l2_dist, 9))
        for r in similarity.pq_shortlist_rerank(
            similarity.pq_encode(emb, cb, n_sub=4), emb, queries, cb,
            k=3, shortlist=50,
        ).collect()
    )
    assert want

    ann = AnnIngest(
        AppendLog(str(tmp_path / "state")), centroids=centroids,
        codebooks=cb, n_sub=4,
    )
    for b in range(3):
        ann.process_batch(emb.filter(F.col("vec_id") % 3 == b), b)
    ann.process_batch(emb.filter(F.col("vec_id") % 3 == 1), 1)  # replay: no-op
    got = sorted(
        (r.q_id, r.rnk, r.neighbor_id, round(r.l2_dist, 9))
        for r in ann.pq_rerank(queries, k=3, shortlist=50).collect()
    )
    assert got == want
    assert ann.log.read(spark, ann.codes_table).count() == emb.count()

    # crash window: cells committed for batch 3 but codes not (simulate
    # by appending cells only), then the replayed process_batch must
    # fill in the missing codes instead of early-returning
    extra = emb.filter(F.col("vec_id") % 3 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    from kafka_cdc_redshift_spark.functions.similarity import ivf_assign

    ann.log.append(
        ivf_assign(extra, centroids, n_cells=1), ann.cells_table, 3
    )
    ann.process_batch(extra, 3)  # cells replay skipped, codes appended
    n = emb.count() + extra.count()
    assert ann.log.read(spark, ann.cells_table).count() == n
    assert ann.log.read(spark, ann.codes_table).count() == n

    # codebook no-swap rule mirrors the centroid rule
    with pytest.raises(ValueError, match="codebooks"):
        AnnIngest(ann.log, codebooks=cb, n_sub=4)


def test_versioned_index_pq_codes_follow_rebuild(spark, emb, queries, tmp_path):
    """With ann_pq enabled the versioned lifecycle carries PQ: v0 trains
    per-subspace codebooks with the centroids and maintains codes;
    pq_rerank == the batch PQ pipeline under v0's own codebooks; a
    drift rebuild retrains codebooks into the new version and serving
    follows the swap; pre-swap replays stay watermark-skipped for the
    code relation too."""
    from kafka_cdc_redshift_spark.streaming.ann_ingest import VersionedAnnIndex

    idx = VersionedAnnIndex(
        AppendLog(str(tmp_path / "state")), name="vpq",
        n_centroids=4, drift_floor=1.1, pq_n_sub=4, pq_n_codes=8,
    )
    b0 = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 2 == 1)
    idx.process_batch(b0, 0)
    idx.process_batch(b1, 1)
    v0 = idx.current()
    cbs0 = idx.log.read(spark, v0.codebooks_table)
    assert cbs0 is not None and cbs0.count() == 4 * 8
    want_v0 = sorted(
        (r.q_id, r.rnk, r.neighbor_id, round(r.l2_dist, 9))
        for r in similarity.pq_shortlist_rerank(
            similarity.pq_encode(emb, cbs0, n_sub=4), emb, queries, cbs0,
            k=3, shortlist=50,
        ).collect()
    )
    got_v0 = sorted(
        (r.q_id, r.rnk, r.neighbor_id, round(r.l2_dist, 9))
        for r in idx.pq_rerank(queries, k=3, shortlist=50).collect()
    )
    assert got_v0 == want_v0 and got_v0

    assert idx.maintain(spark) is True
    v1 = idx.current()
    cbs1 = idx.log.read(spark, v1.codebooks_table)
    assert cbs1 is not None
    n_codes = idx.log.read(spark, v1.codes_table).count()
    assert n_codes == emb.count()
    # replay across the swap: neither cells nor codes grow
    idx.process_batch(b0, 0)
    assert idx.log.read(spark, v1.codes_table).count() == n_codes
    # serving under the retrained books == batch pipeline on them
    want_v1 = sorted(
        (r.q_id, r.rnk, r.neighbor_id, round(r.l2_dist, 9))
        for r in similarity.pq_shortlist_rerank(
            similarity.pq_encode(emb, cbs1, n_sub=4), emb, queries, cbs1,
            k=3, shortlist=50,
        ).collect()
    )
    got_v1 = sorted(
        (r.q_id, r.rnk, r.neighbor_id, round(r.l2_dist, 9))
        for r in idx.pq_rerank(queries, k=3, shortlist=50).collect()
    )
    assert got_v1 == want_v1


def test_versioned_index_rebuild_retry_after_crash_keeps_interim_batches(
    spark, emb, queries, tmp_path
):
    """The r6 ADVICE medium: a rebuild that crashed AFTER committing its
    v(N+1) corpus snapshot but BEFORE the pointer flip, followed by more
    batches ingested into the still-current old version, then a RETRIED
    rebuild. The retry must re-snapshot the now-larger corpus (the
    snapshot id encodes the absorbed watermark, so has_batch cannot skip
    it), retire the stale pre-crash snapshot (no duplicates), and set the
    watermark to the ids actually absorbed."""
    from kafka_cdc_redshift_spark.streaming.ann_ingest import VersionedAnnIndex

    idx = VersionedAnnIndex(
        AppendLog(str(tmp_path / "state")), name="vc",
        n_centroids=4, drift_floor=1.1,
    )
    b0 = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    b2 = emb.filter(F.col("vec_id") % 3 == 2)
    idx.process_batch(b0, 0)  # bootstraps v0
    idx.process_batch(b1, 1)

    # rebuild attempt #1: crash between the snapshot commit and the flip
    orig_flip = idx._flip

    def crash(version, watermark):
        raise RuntimeError("simulated crash before pointer flip")

    idx._flip = crash
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.rebuild(spark)
    idx._flip = orig_flip
    assert idx.current_version() == 0  # pointer never flipped
    # the crashed attempt left a committed v1 snapshot
    v1 = idx._index(1)
    stale = idx.log.read(spark, v1.cells_table)
    assert stale is not None and stale.count() == b0.count() + b1.count()

    # interim batch lands in the OLD version (pointer still points there)
    idx.process_batch(b2, 2)

    # the retried rebuild absorbs the interim batch
    assert idx.rebuild(spark) == 1
    assert idx.current_version() == 1
    cells = idx.log.read(spark, idx.current().cells_table)
    got_ids = sorted(r.vec_id for r in cells.select("vec_id").collect())
    want_ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    assert got_ids == want_ids  # nothing lost AND nothing duplicated

    # the watermark covers the interim batch: its replay is skipped...
    n = cells.count()
    idx.process_batch(b2, 2)
    assert idx.log.read(spark, idx.current().cells_table).count() == n
    # ...but a genuinely new batch still ingests
    idx.process_batch(b0.limit(0), 3)  # empty new batch commits fine
    idx.process_batch(emb.filter(F.col("vec_id") % 50 == 7), 4)
    assert idx.log.read(spark, idx.current().cells_table).count() > n


def test_versioned_index_rebuild_single_writer_guard(
    spark, emb, queries, tmp_path
):
    """r11: concurrent interleavings are enforced out, like the other
    ingestors' migrations. (a) A marker-honoring process_batch REFUSES
    while a rebuild is in flight. (b) A writer that ignores the marker
    and lands a real batch mid-snapshot makes the rebuild ABORT before
    the pointer flip — the batch stays fully live in the old (still
    serving) version with its replay guard, and the retried rebuild
    absorbs it into the new version."""
    from kafka_cdc_redshift_spark.streaming.ann_ingest import VersionedAnnIndex

    log = AppendLog(str(tmp_path / "state"))
    idx = VersionedAnnIndex(log, name="vg", n_centroids=4, drift_floor=1.1)
    b0 = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    rogue = emb.filter(F.col("vec_id") % 3 == 2)
    idx.process_batch(b0, 0)  # bootstraps v0
    idx.process_batch(b1, 1)

    orig_boot = idx._bootstrap_or_recover
    fired = {}

    def hooked(version, train_df):
        if not fired:
            fired["x"] = True
            # (a) a marker-honoring writer refuses mid-rebuild
            other = VersionedAnnIndex(log, name="vg", n_centroids=4)
            with pytest.raises(RuntimeError, match="maintenance"):
                other.process_batch(rogue, 2)
            # (b) the race window: an append that began before the
            # marker — lift the marker FILE around a genuine
            # process_batch and restore it VERBATIM (the rebuild keeps
            # its nonce ownership, as in the real race)
            import os

            mp = log._maintenance_path("vg")
            with open(mp) as f:
                saved_marker = f.read()
            os.remove(mp)
            other.process_batch(rogue, 2)
            with open(mp, "w") as f:
                f.write(saved_marker)
        return orig_boot(version, train_df)

    idx._bootstrap_or_recover = hooked
    with pytest.raises(RuntimeError, match="concurrent batch"):
        idx.rebuild(spark)
    idx._bootstrap_or_recover = orig_boot

    # pointer never flipped: old version serves, incl. the interleaved
    # batch, and its replay guard stands
    assert idx.current_version() == 0
    assert log.active_maintenance("vg") is None
    v0_ids = {r.vec_id for r in
              log.read(spark, idx.current().cells_table)
              .select("vec_id").collect()}
    assert {r.vec_id for r in rogue.collect()} <= v0_ids
    n0 = log.read(spark, idx.current().cells_table).count()
    idx.process_batch(rogue, 2)  # replay: no-op
    assert log.read(spark, idx.current().cells_table).count() == n0

    # the retried rebuild absorbs the interleaved batch
    assert idx.rebuild(spark) == 1
    cells = log.read(spark, idx.current().cells_table)
    got = sorted(r.vec_id for r in cells.select("vec_id").collect())
    want = sorted(r.vec_id for r in emb.select("vec_id").collect())
    assert got == want  # nothing lost, nothing duplicated
    # watermark covers the interleaved batch post-flip
    idx.process_batch(rogue, 2)
    assert log.read(spark, idx.current().cells_table).count() == len(want)
