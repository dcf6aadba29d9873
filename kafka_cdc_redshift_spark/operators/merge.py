"""Merge (upsert + delete) — in-engine replacement for the reference's
SQL-in-Redshift transaction (cdc_util/redshift_sink.py:477-509):

    begin;
      delete from target using stage where <pk equi-join>;   -- J2
      insert into target select ... from stage where op != delete;  -- J3
    end;

Net effect: target := (target MINUS all batch pks) UNION (surviving non-delete
rows). Expressed natively either as one LWW window over target ∪ batch
(the default, `union_window`: one hash shuffle, the batch evaluated once)
or, with `broadcast_updates=True`, as a broadcast left-anti join +
unionByName (the batch's keys broadcast, the target scanned in place). A
NULL key matches nothing, as in the reference's `t.pk = s.pk`: a target
row with a NULL key survives every batch on both paths.

Delete-mode matrix (SURVEY §3.2; run_task dispatch redshift_sink.py:599-607):
  default            : apply deletes
  skip_delete        : deletes treated as upserts (kept in target) — the
                       *intended* semantics of the reference's "ture"-typo
                       branch (redshift_sink.py:456-457)
  save_delete        : also emit last delete image per key -> <table>_delete
  only_save_delete   : emit ONLY the delete stream, no merge

Scale notes: which path wins depends on the target's size next to the
batch's. `union_window` moves the whole target through one shuffle (AQE
coalesces its output into few files) but evaluates the batch once and starts
one job fewer. Under the broadcast anti-join the target never moves, but the
key side is a job of its own over a second evaluation of the batch. The
streaming shell merges every copy-on-write target with `union_window`,
measured faster on targets of well under a megabyte, where the per-job floor
dominates. At 100 TB the expected shape is still `updates` (≤ rate-limit
rows) broadcast against a pk-pruned target scan; that large-target side is
unmeasured.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import BOOKKEEPING, DELETE_OP, OP_COL, TIEBREAK_COL, TS_COL, lww_dedup


def merge_changes(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    *,
    skip_delete: bool = False,
    order_by: Sequence[str] = (TS_COL,),
    dedup_updates: bool = True,
    broadcast_updates: bool = False,
) -> DataFrame:
    """Apply a changelog batch to a keyed target; returns the new target.

    `updates` is a flat changelog (payload cols + op). Bookkeeping columns
    (op / ts_ms / data_index_aws) are dropped from the inserted rows, matching
    the reference's insert column list (redshift_sink.py:445-446).

    Paths:
      * union window (default): target ∪ updates -> one LWW window per key
        (updates always outrank target rows), winners minus deletes; a
        target row whose key holds a NULL is kept beside the window's
        winner. The updates lineage is evaluated ONCE and the whole merge
        is a single hash shuffle — preferred when the batch isn't tiny
        relative to the target, or when updates sit on an expensive
        lineage (the streaming shell's JSON parse of its cached batch).
      * `broadcast_updates=True`: target LEFT ANTI broadcast(updates.keys)
        ∪ surviving updates — the target never shuffles at all; meant for
        a small rate-limited batch against a huge keyed target (the
        100 TB streaming shape). The key side is taken from `updates`
        BEFORE the LWW dedup (dedup keeps one row per key and drops no
        key, so the key set is the same), so only the incoming side pays
        the `dedup_updates` window. `updates` is evaluated twice, once
        per side, and the key side's broadcast is a job of its own: keep
        the lineage cheap.
    """
    keys = list(keys)
    tiebreak = [c for c in (TIEBREAK_COL,) if c in updates.columns]
    order = list(dict.fromkeys([*order_by, *tiebreak]))

    if not broadcast_updates:
        # single-pass merge: stamp provenance, one window over the union
        u_side = updates.select(
            *target.columns,
            F.lit(1).alias("__is_new"),
            F.col(OP_COL).alias("__op"),
            *[F.col(c).alias(f"__o_{c}") for c in order],
        )
        t_side = target.select(
            *target.columns,
            F.lit(0).alias("__is_new"),
            F.lit(None).cast("string").alias("__op"),
            *[
                F.lit(None).cast(dict(updates.dtypes)[c]).alias(f"__o_{c}")
                for c in order
            ],
        )
        w = Window.partitionBy(*keys).orderBy(
            F.desc("__is_new"),
            *[F.desc_nulls_last(f"__o_{c}") for c in order],
        )
        # a NULL key equals no key, so the window's winner does not
        # replace a target row whose key holds one (the anti-join keeps it too)
        null_key = reduce(or_, [F.col(k).isNull() for k in keys])
        winners = (
            t_side.unionByName(u_side)
            .withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) | ((F.col("__is_new") == 0) & null_key))
        )
        if not skip_delete:
            winners = winners.filter(
                (F.col("__is_new") == 0) | (F.col("__op") != DELETE_OP)
            )
        return winners.select(*target.columns)

    join_side = F.broadcast(updates.select(*keys))
    survivors = target.join(join_side, on=keys, how="left_anti")
    if dedup_updates:
        updates = lww_dedup(updates, keys, order)
    incoming = updates if skip_delete else updates.filter(F.col(OP_COL) != DELETE_OP)
    incoming = incoming.drop(*BOOKKEEPING)  # absent columns: no-op
    return survivors.unionByName(incoming.select(*target.columns))


def scd2_history(
    changelog: DataFrame,
    keys: Sequence[str],
    *,
    order_col: str = TS_COL,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a flat changelog: one
    row per non-delete change event, valid from its own timestamp until
    the NEXT event on the key (any op — an update supersedes, a delete
    closes). The open version (`valid_to` NULL) is flagged `is_current`;
    a key whose last event is a delete ends with no current row.

    `tiebreak_cols` break equal-`order_col` ties (the CDC feed's
    data_index_aws arrival counter, mirroring lww_dedup/merge_changes) so
    same-timestamp events on a key get a DETERMINISTIC version order —
    without it, lead() over ties is nondeterministic and incremental
    replay can diverge from a full rebuild. Tied events still produce
    zero-length versions (valid_to == valid_from) by design: every
    intermediate state is a version. Tiebreak columns are ordering-only
    and do not land in the history schema.

    This is the warehouse-side companion of `merge_changes`: merge keeps
    only latest state, SCD2 keeps every state with its validity interval —
    the standard dimension-history build (Kimball type 2) downstream of a
    CDC feed. One window shuffle on the key; no self-join.
    """
    order = [F.col(order_col)] + [F.col(c) for c in tiebreak_cols]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        changelog.withColumn("valid_to", F.lead(order_col).over(w))
        .filter(F.col(OP_COL) != DELETE_OP)
        .withColumn("valid_from", F.col(order_col))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(OP_COL, order_col, *tiebreak_cols)
    )


def scd2_merge_batch(
    history: DataFrame | None,
    batch: DataFrame,
    keys: Sequence[str],
    *,
    order_col: str = TS_COL,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Incrementally maintain an SCD2 history table from one micro-batch of
    changelog rows (the streaming counterpart of `scd2_history`): close the
    table's open version for every key the batch touches (its `valid_to`
    becomes the batch's first event time for that key), then append the
    batch's own versions. Replaying a changelog batch-by-batch from an
    empty history produces EXACTLY `scd2_history` of the full changelog —
    property-tested — provided per-key event-time order is preserved
    across batches (the Kafka-partition-by-key contract the reference
    pipeline already relies on).

    Each batch must be applied once: the streaming job skips a replayed
    batch via the store's transactional batch_id (foreachBatch is
    at-least-once). The close fires whenever the open version started
    at-or-before the batch (`__batch_start >= valid_from`). The equality
    case is the cross-batch same-timestamp tie — a genuinely new batch
    whose first event for a key carries the SAME order_col value as the
    open version's valid_from (millisecond CDC ties straddling a
    micro-batch boundary). The open version is closed as a zero-length
    version exactly like `scd2_history`'s full rebuild does for tied
    events, preserving the ≤1-open-row-per-key invariant; a replayed
    batch can duplicate rows or close a version zero-length, never
    invert an interval.

    Scale shape: the only join is history against the batch's one-row-
    per-key first-event aggregate — broadcastable at any history size
    (a micro-batch is rate-limited); the batch's own window is
    batch-local. `history=None` bootstraps from empty.
    """
    new_versions = scd2_history(
        batch, keys, order_col=order_col, tiebreak_cols=tiebreak_cols,
    )
    first_ts = batch.groupBy(*[F.col(k) for k in keys]).agg(
        F.min(order_col).alias("__batch_start")
    )
    if history is None:
        return new_versions
    joined = history.join(F.broadcast(first_ts), list(keys), "left")
    closed_expr = F.when(
        F.col("is_current") & F.col("__batch_start").isNotNull()
        & (F.col("__batch_start") >= F.col("valid_from")),
        F.col("__batch_start"),
    ).otherwise(F.col("valid_to"))
    closed = (
        joined.withColumn("valid_to", closed_expr)
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("__batch_start")
    )
    # schema drift across batches: columns added to (or dropped from)
    # the changelog must not break the history — align symmetrically,
    # null-filling whichever side lacks a column (the SCD2 analog of
    # the main target's D1-D6 evolution path)
    return closed.unionByName(new_versions, allowMissingColumns=True)
