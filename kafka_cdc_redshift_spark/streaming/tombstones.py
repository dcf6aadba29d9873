"""Tombstone resolution for the streaming ingest family — update/delete
support for state that grows through `AppendLog` appends.

`RetrievalIngest` / `DedupIngest` / `AnnIngest` keep per-document derived
state (postings, LSH bands + sketches, IVF cells / PQ codes) that appends
O(|batch|) per micro-batch and is never rewritten on the hot path. That
contract is exactly right for an append-only crawl — but the CDC shell
these ingests ride exists BECAUSE rows get updated and deleted
(cdc_util/redshift_sink.py:477 merge semantics): an updated document must
not keep serving its stale postings/bands/vectors.

The fix is the same merge-on-read trade the target store makes
(streaming/store.MergeOnReadTargetStore): deletions land as O(|batch|)
TOMBSTONES — `(id, __seq)` rows in a `{name}_dead` AppendLog table, where
`__seq` is the stream batch id (foreachBatch ids are monotone) — and
resolution happens lazily:

  * every state row is stamped with the `__seq` of the batch that wrote
    it;
  * a state row is LIVE iff there is no tombstone for its id with a
    seq STRICTLY greater than the row's own (`>` not `>=`: a batch that
    updates a document tombstones the document's PRIOR state at its own
    seq, and writes the new image's state at the same seq — the new rows
    must survive their own batch's tombstone);
  * an update is delete+insert: tombstone at seq s kills state from
    seqs < s, the new image's rows carry seq s;
  * maintenance (`TombstoneSet.fold`) reads the tombstones once; when
    any rows exist it physically drops dead rows from every state table
    while keeping committed batch ids (replays stay skipped), then
    truncates the fully-applied tombstones — steady-state tombstone
    volume is "churn since the last maintenance cycle", not corpus
    history. With no tombstone rows nothing is rewritten: every table,
    the tombstone table included, only merges its segments under the
    `min_segments` floor.

Re-applying a tombstone is idempotent by construction (live rows have
seq >= their own batch's tombstones), so every crash window in the
ingest/compact sequence heals on retry.

At 1000 executors the per-id tombstone max is a small relation (churn
since last fold); the resolution join co-locates when the state table is
bucketed by id — the same layout the candidate/serving joins already
want.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import AppendLog

#: the seq-stamp column added to every ingest state row
SEQ_COL = "__seq"


def stamp_seq(df: DataFrame, batch_id) -> DataFrame:
    """Stamp state rows with the writing batch's sequence number.
    Stream batch ids are monotone ints (the same property the
    VersionedAnnIndex watermark relies on); non-int ids (snapshot
    markers) pass their ordering position explicitly instead."""
    return df.withColumn(SEQ_COL, F.lit(int(batch_id)).cast("long"))


def tombstone_rows(keys: DataFrame, id_col: str, batch_id) -> DataFrame:
    """(id, __seq) tombstones killing all state for `keys` written by
    batches with seq < batch_id."""
    return keys.select(
        F.col(id_col).alias(id_col),
        F.lit(int(batch_id)).cast("long").alias(SEQ_COL),
    ).distinct()


def tombs_fit_broadcast(tombs: DataFrame, *, headroom: int = 4) -> bool:
    """Driver-side (no job) gate for broadcast-pinning a tombstone
    relation: the optimizer's size estimate must fit within `headroom`×
    the session's autoBroadcastJoinThreshold. Between maintenance folds
    tombstones are churn-sized and always pass; a deployment whose fold
    cadence lets churn accumulate degrades to a shuffle join instead of
    a broadcast OOM. Unknown/invalid stats default to broadcast (the
    historical pinned behavior)."""
    try:
        jqe = tombs._jdf.queryExecution()
        raw = jqe.optimizedPlan().stats().sizeInBytes()
        size = int(raw.toString()) if hasattr(raw, "toString") else int(raw)
        conf = tombs.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"
        )
        thresh = int(str(conf).lower().rstrip("b"))
        if thresh <= 0:  # auto-broadcast disabled: honor it
            return False
        if size >= 1 << 60:
            # stats sentinel (Long.MaxValue-ish): size UNKNOWN — e.g. a
            # local-relation fixture — keep the historical pin; real
            # accumulation lives in file-backed state with real stats
            return True
        return size <= thresh * headroom
    except Exception:  # noqa: BLE001 - connect/other backends
        return True


def resolve(
    state: DataFrame | None, tombs: DataFrame | None, id_col: str
) -> DataFrame | None:
    """The live rows of `state` under `tombs`: a row survives iff no
    tombstone for its id has seq > the row's seq. One combinable max-agg
    over the (churn-sized) tombstones, then a left join against the
    state side.

    The tombstone side is broadcast-pinned whenever it plausibly fits:
    between maintenance folds it is bounded by churn-since-last-fold
    (truncate_after_fold), never corpus size, so the serving read's
    plan should not HOPE AQE notices — the same reasoning as
    lm_surprisal_flags(broadcast_lm=True). The pin is gated on the
    optimizer's size estimate (tombs_fit_broadcast), so accumulated
    churn degrades to a shuffle join rather than a broadcast OOM (the
    state side then co-locates when bucketed by id)."""
    if state is None or tombs is None:
        return state
    tmax = tombs.groupBy(id_col).agg(F.max(SEQ_COL).alias("__dead_seq"))
    if tombs_fit_broadcast(tombs):
        tmax = F.broadcast(tmax)
    return (
        state.join(tmax, id_col, "left")
        .filter(
            F.col("__dead_seq").isNull()
            | (F.col(SEQ_COL) >= F.col("__dead_seq"))
        )
        .drop("__dead_seq")
    )


def frozen_before(df: DataFrame | None, batch_id) -> DataFrame | None:
    """Rows written strictly before `batch_id` — the retry-deterministic
    view an in-flight batch must compute against: a crashed attempt may
    already have committed this batch's own state/tombstones, and
    recomputing against them would change the answer between attempts."""
    if df is None:
        return None
    return df.filter(F.col(SEQ_COL) < F.lit(int(batch_id)).cast("long"))


class TombstoneSet:
    """The `{name}_dead` table of one ingest: append per batch, resolve
    lazily, truncate at maintenance once fully applied."""

    def __init__(self, log: AppendLog, name: str, id_col: str):
        self.log = log
        self.table = f"{name}_dead"
        self.id_col = id_col

    def append(self, keys: DataFrame | None, batch_id) -> None:
        """Commit this batch's tombstones (idempotent per batch_id).
        `keys=None` means the caller wired no tombstone feed (legacy
        append-only usage) and is a no-op; an EMPTY keys frame commits an
        empty delta — O(|batch|)-bounded, merged away by compaction —
        so the ingest never pays a probe job to decide."""
        if keys is None or self.log.has_batch(self.table, batch_id):
            return
        self.log.append(
            tombstone_rows(keys, self.id_col, batch_id),
            self.table, batch_id,
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        return self.log.read(spark, self.table)

    def resolve(
        self, spark: SparkSession, state: DataFrame | None
    ) -> DataFrame | None:
        return resolve(state, self.read(spark), self.id_col)

    def resolve_frozen(
        self, spark: SparkSession, state: DataFrame | None, batch_id
    ) -> DataFrame | None:
        """Live rows as of the START of `batch_id` — both the state and
        the tombstones are frozen to seq < batch_id, so a retried batch
        computes the identical answer even after a partial commit."""
        return resolve(
            frozen_before(state, batch_id),
            frozen_before(self.read(spark), batch_id),
            self.id_col,
        )

    def fold(
        self, spark: SparkSession, tables, *, min_segments: int = 8
    ) -> None:
        """Maintenance, the delete half of the merge-on-read fold: merge
        each state table's segments AND physically drop its tombstoned
        rows, then truncate the fully-applied tombstones. `tables` holds
        table names, or `(table, resolver)` pairs for state whose rows
        die by another rule than `resolve` on `id_col` — resolver(df,
        tombstones) -> live df.

        The tombstones are read once per fold. When any rows exist,
        every table is rewritten regardless of the segment floor —
        truncating is only sound once every state row they kill is gone;
        a crash between the table rewrites just leaves the tombstones
        standing for the next cycle (resolution stays lazy). The
        truncate drops all tombstone ROWS while keeping committed batch
        ids: a replayed old batch is still skipped by `has_batch`, and
        even a re-applied tombstone is idempotent (live rows carry seq
        >= their own batch's tombstones). It is fenced on the tombstone
        ids read here, so tombstones committed mid-fold are never
        dropped unapplied. With no tombstone rows there is nothing to
        drop or truncate: the tombstone table's (empty) segments merge
        under the floor like any state table's, and a standing fold
        writes nothing."""
        dead_ids = self.log.committed(self.table)
        dead = self.read(spark)
        live = dead is not None and not dead.isEmpty()
        for entry in tables:
            table, res = entry if isinstance(entry, tuple) else (
                entry, lambda df, t: resolve(df, t, self.id_col)
            )
            if live:
                self.log.compact(
                    spark, table, min_segments=1,
                    transform=lambda df, res=res: res(df, dead),
                )
            else:
                self.log.compact(spark, table, min_segments=min_segments)
        if live:
            self.log.compact(
                spark, self.table, min_segments=1,
                transform=lambda df: df.limit(0),
                expect_batches=dead_ids,
            )
        else:
            self.log.compact(spark, self.table, min_segments=min_segments)
