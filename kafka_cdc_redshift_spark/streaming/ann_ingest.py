"""Streaming ANN-index ingest: incremental IVF maintenance for an
embedding stream.

The batch operators in `functions/similarity.py` build an IVF index in
one shot (assign every corpus vector to its nearest centroid, then
queries probe a few cells). At crawl scale the corpus arrives as a
stream, and re-assigning 100 TB of embeddings per batch is exactly the
cost an index exists to avoid. This module keeps the index INCREMENTAL:

  1. centroids are trained once (or supplied) and PERSISTED — a restarted
     job recovers the same centroids, so assignments stay consistent
     across the index's whole lifetime (an index whose cells drift with
     the trainer is not an index),
  2. each arriving batch is assigned to cells against the broadcast
     centroids — O(|batch| x k) work, the standing corpus untouched —
     and appended to the `(vec_id, embedding, cell)` index relation
     through `AppendLog`'s atomic per-batch commit (replay-idempotent
     via the committed-batch manifest, same pattern as dedup_ingest),
  3. queries run `ivf_topk_from_cells` against the stored relation:
     probe list is batch-sized and broadcast; only probed cells scan.

Centroid drift: ingest distributions shift, and stale centroids degrade
recall silently. `centroid_drift` measures, in one aggregation pass over
the stored index, how far each cell's CURRENT mean has moved from the
centroid it was assigned under — the signal that a rebuild (batch
`functions/clustering.kmeans` + a fresh index) is due. The rebuild is a
maintenance job by design: reassignment rewrites every row, so it rides
the same economics as `operators/layout.compact_table` re-clustering,
not the ingest hot path.

At 1000 executors: the index relation is the big side — store it
partitioned by `cell` so a query's probed cells map to partition pruning
and the per-cell scans are co-located; the batch side (assignments,
probes, centroids) is always broadcast-sized.

No reference analog (the reference moves CDC rows); this is engine-native
surface on the same streaming shell, the embedding twin of
streaming/dedup_ingest.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.similarity import (
    dot_col,
    ivf_assign,
    ivf_topk_from_cells,
    norm_col,
    pq_encode,
    pq_shortlist_rerank,
)
from .store import AppendLog, write_json_atomic
from .tombstones import SEQ_COL, TombstoneSet, resolve_compact, stamp_seq

_CENTROID_BATCH = "__centroids__"  # singleton "batch" id for the centroid table
_CODEBOOK_BATCH = "__codebooks__"  # singleton "batch" id for the PQ codebooks


class AnnIngest:
    """Stateful streaming IVF index over an `AppendLog`.

    State tables (under `log.root`): `{name}_cells` (the index:
    vec_id, embedding, cell — one row per ingested vector) and
    `{name}_centroids` (cent_id, c_emb — written once). With
    `codebooks=` the index also maintains `{name}_codes` (the PQ code
    relation — n_sub small ints per vector, the 32x-compressed serving
    artifact `pq_rerank` shortlists over) and `{name}_codebooks`
    (written once, same no-swap rule as the centroids).

    Use from any micro-batch loop::

        ann = AnnIngest(AppendLog(state_dir), centroids=trained, name="emb")
        stream.writeStream.foreachBatch(
            lambda df, bid: ann.process_batch(df, bid)
        )

    `centroids=None` recovers a previously persisted centroid set (a
    restart); constructing with `centroids=` on a log that already holds
    one raises — silently swapping centroids under a standing index
    would corrupt every existing assignment (rebuild into a fresh index
    instead).
    """

    def __init__(
        self,
        log: AppendLog,
        *,
        centroids: DataFrame | None = None,
        codebooks: DataFrame | None = None,
        n_sub: int = 8,
        name: str = "emb",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.log = log
        self.name = name
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_sub = n_sub
        self._dead = TombstoneSet(log, name, id_col)
        if centroids is not None:
            if self.log.has_batch(self.centroids_table, _CENTROID_BATCH):
                raise ValueError(
                    f"index {name!r} already has persisted centroids; "
                    "swapping centroids under a standing index corrupts "
                    "its assignments — rebuild into a fresh index instead"
                )
            self.log.append(
                centroids.select("cent_id", "c_emb"),
                self.centroids_table, _CENTROID_BATCH,
            )
        if codebooks is not None:
            # PQ is optional per index; the codebooks carry the same
            # no-swap rule as the centroids (codes assigned under one
            # codebook are garbage under another — rebuild instead)
            if self.log.has_batch(self.codebooks_table, _CODEBOOK_BATCH):
                raise ValueError(
                    f"index {name!r} already has persisted PQ codebooks; "
                    "swapping codebooks under standing codes corrupts "
                    "them — rebuild into a fresh index instead"
                )
            self.log.append(
                codebooks.select("sub", "code", "cvec"),
                self.codebooks_table, _CODEBOOK_BATCH,
            )

    @property
    def cells_table(self) -> str:
        return f"{self.name}_cells"

    @property
    def centroids_table(self) -> str:
        return f"{self.name}_centroids"

    @property
    def codes_table(self) -> str:
        return f"{self.name}_codes"

    @property
    def codebooks_table(self) -> str:
        return f"{self.name}_codebooks"

    @property
    def dead_table(self) -> str:
        return self._dead.table

    def centroids(self, spark: SparkSession) -> DataFrame:
        c = self.log.read(spark, self.centroids_table)
        if c is None:
            raise ValueError(
                f"index {self.name!r} has no persisted centroids — "
                "construct AnnIngest with centroids= first"
            )
        return c

    def process_batch(
        self, batch_df: DataFrame, batch_id, *,
        tombstones: DataFrame | None = None, seq=None,
    ) -> None:
        """Assign one micro-batch (its LWW-latest non-delete vectors)
        against the (broadcast) centroids and append it to the index;
        `tombstones` is the batch's updated/deleted id set (an update is
        delete+insert: its old cell row and PQ code die, the new vector
        re-assigns in this same batch). O(|batch| x n_centroids)
        compute, zero standing-state reads; a replayed batch is skipped
        via the log's committed manifest. `seq` overrides the row stamp
        for non-integer batch ids (the rebuild snapshot)."""
        spark = batch_df.sparkSession
        seq = batch_id if seq is None else seq
        self._dead.append(tombstones, batch_id)
        if not self.log.has_batch(self.cells_table, batch_id):
            assigned = ivf_assign(
                batch_df.select(self.id_col, self.vec_col),
                self.centroids(spark),
                n_cells=1, id_col=self.id_col, vec_col=self.vec_col,
            )
            self.log.append(
                stamp_seq(assigned, seq), self.cells_table, batch_id
            )
        # PQ codes ride the same batch, guarded SEPARATELY: a crash
        # between the two appends replays into "cells committed, codes
        # not", and an early-return on the cells guard would lose the
        # codes forever
        cbs = self.log.read(spark, self.codebooks_table)
        if cbs is not None and not self.log.has_batch(
            self.codes_table, batch_id
        ):
            codes = pq_encode(
                batch_df.select(self.id_col, self.vec_col), cbs,
                n_sub=self.n_sub, id_col=self.id_col, vec_col=self.vec_col,
            )
            self.log.append(
                stamp_seq(codes, seq), self.codes_table, batch_id
            )

    def live_cells(self, spark: SparkSession) -> DataFrame | None:
        """The LIVE (id, vec, cell) index relation — tombstone-resolved,
        or None before the first ingest."""
        c = self._dead.resolve(spark, self.log.read(spark, self.cells_table))
        return None if c is None else c.drop(SEQ_COL)

    def topk(
        self, queries: DataFrame, *, k: int = 3, nprobe: int = 2
    ) -> DataFrame:
        """ANN top-k for a query batch against the standing index —
        identical results to batch `ivf_topk` over the same live corpus
        and centroids (tested through updates and deletes), without ever
        re-assigning the corpus."""
        spark = queries.sparkSession
        return ivf_topk_from_cells(
            self.live_cells(spark),
            queries, self.centroids(spark),
            k=k, nprobe=nprobe, id_col=self.id_col, vec_col=self.vec_col,
        )

    def pq_rerank(
        self, queries: DataFrame, *, k: int = 3, shortlist: int = 100
    ) -> DataFrame:
        """PQ serving against the standing codes: ADC shortlist over the
        incrementally maintained code relation, exact re-rank against
        the index's own stored vectors — identical results to batch
        `pq_shortlist_rerank` over the same corpus and codebooks
        (tested). Requires the index to have been built with
        `codebooks=`."""
        spark = queries.sparkSession
        codes = self._dead.resolve(
            spark, self.log.read(spark, self.codes_table)
        )
        cbs = self.log.read(spark, self.codebooks_table)
        if codes is None or cbs is None:
            raise ValueError(
                f"index {self.name!r} has no PQ codes — construct "
                "AnnIngest with codebooks= first"
            )
        emb = self.live_cells(spark).select(self.id_col, self.vec_col)
        return pq_shortlist_rerank(
            codes.drop(SEQ_COL), emb, queries, cbs, k=k, shortlist=shortlist,
            id_col=self.id_col, vec_col=self.vec_col, n_sub=self.n_sub,
        )

    def semantic_dups(
        self, spark: SparkSession, *, threshold: float
    ) -> DataFrame:
        """SemDeDup-style semantic dedup served from the STANDING index
        — the streamed twin of functions/similarity.semantic_dedup: the
        live (id, vec, cell) relation IS the nearest-centroid
        assignment (each vector was assigned at its ingest batch
        against the same persisted centroids), so serving skips the
        assignment pass entirely and runs only the cell-local pairwise
        compare. Tracks the live corpus through updates/deletes: an
        updated vector's new image was re-assigned at its update batch,
        tombstone resolution drops the old one, and pair decisions are
        re-derived per serve — a duplicate whose lower-id twin was
        deleted correctly becomes unique."""
        from ..functions.similarity import semantic_dedup_from_cells

        cells = self.live_cells(spark)
        if cells is None:
            raise ValueError(f"index {self.name!r} has no ingested batches")
        return semantic_dedup_from_cells(
            cells, threshold=threshold,
            id_col=self.id_col, vec_col=self.vec_col,
        )

    def weighted_drift(self, spark: SparkSession) -> float:
        """Size-weighted mean of `centroid_drift`'s per-cell similarity —
        the single scalar a rebuild schedule compares against its floor."""
        row = self.centroid_drift(spark).agg(
            (
                F.sum(F.col("mean_sim") * F.col("cell_size"))
                / F.sum("cell_size")
            ).alias("w")
        ).first()
        return float(row["w"]) if row["w"] is not None else 1.0

    def centroid_drift(self, spark: SparkSession) -> DataFrame:
        """Per-cell staleness: cosine similarity between each persisted
        centroid and its cell's CURRENT mean vector, plus the cell size.
        One aggregation pass over the index (posexplode -> per-(cell, dim)
        mean -> collect back to k x d rows via a cell-local sort — all
        broadcast-sized after the agg). Low `mean_sim` cells are where
        recall is silently dying; schedule a rebuild when the sized-
        weighted similarity drops below the operator's floor. Measured
        over the LIVE rows — dead vectors must not pull the means."""
        cells = self.live_cells(spark)
        if cells is None:
            raise ValueError(f"index {self.name!r} is empty")
        dims = (
            cells.select(
                "cell", F.posexplode(self.vec_col).alias("j", "x")
            )
            .groupBy("cell", "j")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
        )
        means = (
            dims.groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("j", "m"))
                ).alias("__jm")
            )
            .select(
                "cell",
                F.transform("__jm", lambda s: s["m"]).alias("mean_emb"),
            )
        )
        sizes = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_size"))
        cents = self.centroids(spark).select(
            F.col("cent_id").alias("cell"), "c_emb"
        )
        sim = dot_col(F.col("mean_emb"), F.col("c_emb")) / (
            norm_col(F.col("mean_emb")) * norm_col(F.col("c_emb"))
        )
        return (
            means.join(cents, "cell")
            .join(sizes, "cell")
            .select("cell", "cell_size", sim.alias("mean_sim"))
        )

    def compact_state(
        self, spark: SparkSession, *, min_segments: int = 8
    ) -> None:
        """Merge the per-batch cell (and PQ code) directories AND fold
        the tombstones (maintenance): the serving scans otherwise pay
        one list-read per ingested batch forever, and with churn the
        dead vectors/codes physically drop before the fully-applied
        tombstones truncate. Committed batch ids survive compaction, so
        replay skipping is unaffected; centroids/codebooks are
        single-segment by construction and never qualify."""
        resolve_compact(
            self.log, spark, self.cells_table, self._dead,
            min_segments=min_segments,
        )
        resolve_compact(
            self.log, spark, self.codes_table, self._dead,
            min_segments=min_segments,
        )
        self._dead.truncate(spark)


class VersionedAnnIndex:
    """Atomic-swap index lifecycle over `AnnIngest` — the piece that closes
    the drift loop: `AnnIngest` deliberately refuses a centroid swap under
    a standing index (the assignments would silently corrupt), so a
    retrain must build a NEW index version and flip a pointer, exactly the
    versioned-publish contract the target store uses.

    State under `log.root`: per-version `{name}_v{N}_cells/_centroids`
    tables (plain AnnIngest state) plus `{name}_index.json`, the pointer
    `{version, watermark}` rewritten atomically (os.replace). `watermark`
    is the highest STREAM batch id absorbed into a rebuild's corpus
    snapshot: structured-streaming batch ids are monotone, so a replayed
    batch (id <= watermark) delivered after a swap is skipped — the new
    version's own manifest cannot know pre-swap ids, the watermark spans
    versions for it.

    Lifecycle:
      * first batch bootstraps v0: centroids train on that batch
        (`kmeans_centroids`) and persist; a bootstrap that crashed between
        centroid persist and pointer flip heals by recovering the
        persisted set instead of retraining;
      * `process_batch` ingests into the current version (O(|batch| x k),
        replay-guarded by manifest + watermark);
      * `maintain` (call it from the job's compaction cycle) measures
        `weighted_drift` and, below `drift_floor`, rebuilds: retrain on
        the standing index's vectors, snapshot the full corpus into
        version N+1, flip the pointer. The rebuild is O(corpus) by
        design — it rides maintenance economics (layout.compact_table),
        never the ingest hot path. Crash-safe: everything before the
        pointer flip is invisible to readers and heals idempotently on
        retry (persisted-centroid recovery + per-table manifest).

    Drivable from the `.properties` surface via the per-rule keys
    `ann_ingest`, `ann_vec_column`, `ann_n_centroids`, `ann_drift_floor`,
    plus `ann_pq_n_sub` / `ann_pq_n_codes` for the PQ code relation
    (config.SyncRule; streaming/job.py wires batches and maintenance).
    """

    _SNAPSHOT = "rebuild"  # the rebuild corpus snapshot's batch id

    def __init__(
        self,
        log: AppendLog,
        *,
        name: str = "emb",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_centroids: int = 8,
        drift_floor: float = 0.0,
        pq_n_sub: int = 0,
        pq_n_codes: int = 16,
    ):
        self.log = log
        self.name = name
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_centroids = n_centroids
        self.drift_floor = drift_floor
        # pq_n_sub > 0: every version also trains per-subspace PQ
        # codebooks and maintains the compressed code relation; a drift
        # rebuild retrains them with the centroids so codes follow the
        # same versioned-swap lifecycle
        self.pq_n_sub = pq_n_sub
        self.pq_n_codes = pq_n_codes

    # -- pointer -----------------------------------------------------------
    def _pointer_path(self) -> str:
        import os

        return os.path.join(self.log.root, f"{self.name}_index.json")

    def _pointer(self) -> dict | None:
        import json

        try:
            with open(self._pointer_path()) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _flip(self, version: int, watermark) -> None:
        write_json_atomic(
            self._pointer_path(), {"version": version, "watermark": watermark}
        )

    def _index(self, version: int) -> AnnIngest:
        return AnnIngest(
            self.log, name=f"{self.name}_v{version}",
            id_col=self.id_col, vec_col=self.vec_col,
            n_sub=self.pq_n_sub or 8,
        )

    def current(self) -> AnnIngest:
        ptr = self._pointer()
        if ptr is None:
            raise ValueError(f"index {self.name!r} has no published version")
        return self._index(ptr["version"])

    def current_version(self) -> int | None:
        ptr = self._pointer()
        return None if ptr is None else ptr["version"]

    # -- ingest ------------------------------------------------------------
    def _bootstrap_or_recover(
        self, version: int, train_df: DataFrame
    ) -> AnnIngest:
        """The version's AnnIngest, training+persisting centroids when the
        version has none yet. Healing: an attempt that crashed after the
        centroid persist recovers the SAME set instead of retraining, so
        assignments stay consistent across the retry."""
        idx = self._index(version)
        cents = None
        if not self.log.has_batch(idx.centroids_table, _CENTROID_BATCH):
            from ..functions.clustering import kmeans_centroids

            cents = kmeans_centroids(
                train_df, k=self.n_centroids,
                id_col=self.id_col, vec_col=self.vec_col,
            )
        cbs = None
        if self.pq_n_sub > 0 and not self.log.has_batch(
            idx.codebooks_table, _CODEBOOK_BATCH
        ):
            cbs = self._train_codebooks(train_df)
        if cents is not None or cbs is not None:
            idx = AnnIngest(
                self.log, centroids=cents, codebooks=cbs,
                n_sub=self.pq_n_sub or 8, name=f"{self.name}_v{version}",
                id_col=self.id_col, vec_col=self.vec_col,
            )
        return idx

    def _train_codebooks(self, train_df: DataFrame):
        """Per-subspace k-means codebooks on the training slice — the
        same deterministic trainer as the centroids, run on vector
        sub-slices (see functions/similarity PQ section)."""
        from functools import reduce

        from ..functions.clustering import kmeans_centroids

        parts = []
        for s in range(self.pq_n_sub):
            sl = train_df.select(
                F.col(self.id_col),
                F.slice(
                    F.col(self.vec_col),
                    (F.size(self.vec_col) / self.pq_n_sub).cast("int") * s + 1,
                    (F.size(self.vec_col) / self.pq_n_sub).cast("int"),
                ).alias(self.vec_col),
            )
            parts.append(
                kmeans_centroids(
                    sl, k=self.pq_n_codes,
                    id_col=self.id_col, vec_col=self.vec_col,
                ).select(
                    F.lit(s).alias("sub"),
                    F.col("cent_id").alias("code"),
                    F.col("c_emb").alias("cvec"),
                )
            )
        return reduce(lambda a, b: a.unionByName(b), parts)

    def process_batch(
        self, batch_df: DataFrame, batch_id, *,
        tombstones: DataFrame | None = None,
    ) -> None:
        # single-writer fence (same contract as the dedup/retrieval
        # ingestors): a batch appended to the OLD version between a
        # rebuild's id capture and its pointer flip would be absent
        # from the new version's snapshot AND below its watermark — the
        # stream's checkpoint has committed it, so it would silently
        # vanish from serving. Refuse while a rebuild is in flight.
        self.log.check_no_maintenance(self.name)
        ptr = self._pointer()
        if ptr is None:
            idx = self._bootstrap_or_recover(0, batch_df)
            idx.process_batch(batch_df, batch_id, tombstones=tombstones)
            self._flip(0, watermark=None)
            return
        wm = ptr.get("watermark")
        if wm is not None and isinstance(batch_id, int) and batch_id <= wm:
            return  # replay of a batch a rebuild snapshot already absorbed
            # (its tombstones too: the snapshot was cut from the RESOLVED
            # corpus, so their effect is already materialized)
        self._index(ptr["version"]).process_batch(
            batch_df, batch_id, tombstones=tombstones
        )

    # -- serving / maintenance ----------------------------------------------
    def topk(self, queries: DataFrame, *, k: int = 3, nprobe: int = 2):
        return self.current().topk(queries, k=k, nprobe=nprobe)

    def pq_rerank(self, queries: DataFrame, *, k: int = 3, shortlist: int = 100):
        return self.current().pq_rerank(queries, k=k, shortlist=shortlist)

    def semantic_dups(self, spark: SparkSession, *, threshold: float):
        return self.current().semantic_dups(spark, threshold=threshold)

    def compact_state(
        self, spark: SparkSession, *, min_segments: int = 8
    ) -> None:
        """Maintenance segment-merge for the CURRENT version's state (a
        rebuild starts version N+1 from one snapshot segment anyway)."""
        ptr = self._pointer()
        if ptr is not None:
            self._index(ptr["version"]).compact_state(
                spark, min_segments=min_segments
            )

    def maintain(self, spark: SparkSession) -> bool:
        """Drift-gated rebuild: when the current version's size-weighted
        centroid similarity drops below `drift_floor`, retrain and swap.
        Returns True when a rebuild happened. drift_floor <= 0 disables
        the loop (measurement stays available via the index)."""
        ptr = self._pointer()
        if ptr is None or self.drift_floor <= 0:
            return False
        cur = self._index(ptr["version"])
        if self.log.read(spark, cur.cells_table) is None:
            return False
        if cur.weighted_drift(spark) >= self.drift_floor:
            return False
        self.rebuild(spark)
        return True

    def rebuild(self, spark: SparkSession, *,
                force: bool = False) -> int:
        """Retrain on the standing corpus (the index rows carry their
        vectors), snapshot it into version N+1 under fresh centroids, and
        atomically flip the pointer. The watermark advances to the highest
        stream batch id the snapshot absorbed, so pre-swap replays are
        skipped. Returns the new version.

        Crash-RETRY safe: the snapshot batch id encodes the watermark of
        the absorbed corpus, so a retry after "snapshot committed, pointer
        not flipped, more batches ingested into the old version" gets a
        NEW id — has_batch cannot skip the re-snapshot and silently drop
        the interim vectors — and the stale snapshot (a strict subset of
        the fresh corpus) is retired first so the new version never holds
        both. The absorbed ids are captured BEFORE the corpus read, so
        the watermark can never cover a batch the snapshot missed.

        CONCURRENT interleavings (vs the sequential retry above) are
        enforced out, not reasoned away (r11, same contract as
        migrate_lsh/migrate_positions): a maintenance marker makes a
        concurrent `process_batch` refuse for the rebuild's duration,
        and the pointer flip is fenced on the committed ids captured at
        the start — a marker-ignoring writer's batch aborts the flip
        (its batch and the old version stay fully live; the retry
        re-snapshots and absorbs it) instead of vanishing from serving
        below the new watermark. Every pre-flip step is invisible to
        readers, so any abort leaves state unchanged and clears the
        marker; only a process death leaves it standing — the safe
        direction (ingest refuses until the idempotent re-run)."""
        ptr = self._pointer()
        if ptr is None:
            raise ValueError(f"index {self.name!r} has no published version")
        nonce = self.log.begin_maintenance(
            self.name, "ann_rebuild", force=force
        )
        try:
            cur = self._index(ptr["version"])
            old_ids = [
                b for b in self.log.committed(cur.cells_table)
                if isinstance(b, int)
            ]
            fence = {
                t: [b for b in self.log.committed(t) if isinstance(b, int)]
                for t in (cur.cells_table, cur.codes_table)
            }
            # snapshot the LIVE corpus: tombstoned (updated/deleted)
            # vectors must not be resurrected into the new version
            corpus = cur.live_cells(spark)
            if corpus is None:
                raise ValueError(f"index {self.name!r} is empty")
            corpus = corpus.select(self.id_col, self.vec_col)
            new_version = ptr["version"] + 1
            wm_parts = list(old_ids)
            if ptr.get("watermark") is not None:
                wm_parts.append(ptr["watermark"])
            new_wm = max(wm_parts) if wm_parts else None
            snap_id = f"{self._SNAPSHOT}:{new_wm}"
            idx = self._bootstrap_or_recover(new_version, corpus)
            for table in (idx.cells_table, idx.codes_table):
                stale = [
                    b for b in self.log.committed(table)
                    if isinstance(b, str) and b.startswith(self._SNAPSHOT)
                    and b != snap_id
                ]
                if stale:
                    self.log.retire(table, stale)
            idx.process_batch(corpus, snap_id, seq=new_wm if new_wm else 0)
            for t, ids in fence.items():
                if [b for b in self.log.committed(t)
                        if isinstance(b, int)] != ids:
                    raise RuntimeError(
                        f"ann rebuild: a concurrent batch committed to "
                        f"{t!r} during the snapshot — the pointer was NOT "
                        "flipped (old version fully live); stop the "
                        "ingest and re-run the rebuild"
                    )
            self._flip(new_version, new_wm)
        finally:
            self.log.end_maintenance(self.name, nonce)
        return new_version
