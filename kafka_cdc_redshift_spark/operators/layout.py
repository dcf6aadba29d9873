"""Physical data-layout operators: range-clustered writes and small-file
compaction.

The reference delegates physical layout to Redshift — CTAS with
`sortkey(pk)` (cdc_util/redshift_sink.py:498-501) and the implicit vacuum/
analyze cycle. A Spark-native engine owns its files, so the two halves of
that contract become explicit operators:

- `write_range_layout`: cluster a table's files on chosen columns so each
  parquet file covers a narrow value range. Parquet row-group/file min-max
  stats (zone maps) then let a filtered scan skip whole files — the Spark
  analog of a Redshift sortkey. At 100 TB this is the difference between a
  time-window query scanning one day's files and scanning the fleet.
- `compact_table`: a CDC store accumulates one file-set per micro-batch
  publish; thousands of small files destroy scan throughput (per-file open
  cost, tiny row groups, scheduler overhead). Compaction republishes the
  table at a target file size through the store's atomic version swap, so
  readers never see a partial rewrite — the analog of Redshift VACUUM.
"""

from __future__ import annotations

import logging
import math
import os

from pyspark.sql import DataFrame, SparkSession


class EmptyLayoutInput(ValueError):
    """Layout input has no rows — there is no range to cluster on.
    write_zorder_layout catches this and writes the (empty) table
    unclustered; direct zorder_key callers see a clear error instead of a
    TypeError on float(None)."""


def write_range_layout(
    df: DataFrame,
    path: str,
    *,
    range_cols: list[str],
    sort_cols: list[str] | None = None,
    num_files: int | None = None,
) -> None:
    """Write `df` as parquet clustered on `range_cols`.

    `repartitionByRange` samples the columns and assigns contiguous value
    ranges to partitions (one output file each), so file-level min/max
    stats are tight and disjoint; `sortWithinPartitions` additionally
    tightens row-group stats inside each file. Filters on the range columns
    then prune at both the file and row-group level.

    The range exchange is one full shuffle — this is a layout/maintenance
    job, not a hot-path operator. `num_files` defaults to the session's
    shuffle parallelism.
    """
    part = (
        df.repartitionByRange(num_files, *range_cols)
        if num_files
        else df.repartitionByRange(*range_cols)
    )
    part.sortWithinPartitions(*(sort_cols or range_cols)).write.mode(
        "overwrite"
    ).parquet(path)


def _dir_data_files(path: str) -> list[tuple[str, int]]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out.append((p, os.path.getsize(p)))
    return out


def compact_table(
    store,
    spark: SparkSession,
    table: str,
    *,
    target_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 4,
    zorder_cols: list[str] | None = None,
    zorder_bits: int = 12,
) -> int | None:
    """Compact a store table's current version to ~`target_bytes` files.

    Reads the live version, coalesces to ceil(total_bytes / target_bytes)
    partitions (coalesce, not repartition — compaction must not pay a
    shuffle), and republishes through the store's atomic pointer flip.
    Returns the new version, or None when the table is already compact
    (fewer than `min_files_to_compact` files or already at target size).

    `zorder_cols` upgrades the rewrite to a CLUSTERING compaction: since
    compaction already rewrites every row, re-clustering on the z-order
    curve rides the same job for one extra range shuffle — the combined
    VACUUM + sortkey maintenance a warehouse runs as one pass. Per-batch
    CDC publishes destroy clustering over time; the periodic compaction
    cycle is exactly when to restore it. Falls back to plain coalesce
    when the table is empty.

    Works against any `ParquetTargetStore`-shaped store (local FS here; the
    same listing maps to an object-store inventory at scale).
    """
    p = store.path(table)
    if p is None:
        return None
    files = _dir_data_files(p)
    total = sum(sz for _, sz in files)
    if len(files) < min_files_to_compact or total / max(len(files), 1) >= target_bytes:
        return None
    n = max(1, math.ceil(total / target_bytes))
    if n >= len(files):
        return None
    df = store.read(spark, table)
    if zorder_cols:
        try:
            key, _ = zorder_key(df, zorder_cols, bits=zorder_bits)
        except EmptyLayoutInput:
            return store.publish(df.coalesce(n), table)
        except Exception as e:  # noqa: BLE001 - see below: degrade, don't fail
            # A misconfigured zorder_columns entry (nonexistent column ->
            # AnalysisException, all-NULL or non-numeric column ->
            # ValueError) is NOT transient: raising here would fail every
            # maintenance cycle and let small files accrue indefinitely.
            # Clustering is an optimization; compaction is not — degrade
            # to the size-only rewrite and surface the misconfiguration.
            logging.getLogger(__name__).warning(
                "z-order clustering for table %r skipped (mis-configured "
                "zorder_columns %r: %s); falling back to size-only "
                "compaction", table, zorder_cols, e,
            )
            return store.publish(df.coalesce(n), table)
        clustered = (
            df.withColumn("__z", key)
            .repartitionByRange(n, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        return store.publish(clustered, table)
    return store.publish(df.coalesce(n), table)


def zorder_key(
    df: DataFrame, cols: list[str], *, bits: int = 12
):
    """Z-order (Morton) interleave key over `cols` as a native Column.

    Each column is min-max scaled to `bits` bits (one stats pass — a
    layout job already reads the table once more to rewrite it), then the
    bit planes are interleaved so nearby (x, y, ...) points share key
    prefixes. Pure shift/and/or expressions — codegen'd, no Python.

    Returns (key_column, stats_row) — stats are exposed so callers can log
    the ranges the scaling was computed from.
    """
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    stats = df.agg(*aggs).first()
    if stats["__n"] == 0:
        raise EmptyLayoutInput("z-order layout input has no rows")
    k = len(cols)
    max_q = (1 << bits) - 1
    planes = []
    for i, c in enumerate(cols):
        if stats[f"__mn_{c}"] is None:
            raise ValueError(
                f"z-order column {c!r} is NULL in every row — its min/max "
                "range is undefined, so it cannot contribute interleave "
                "bits; drop it from zorder_cols or filter/fill the nulls"
            )
        try:
            mn = float(stats[f"__mn_{c}"])
            mx = float(stats[f"__mx_{c}"])
        except (TypeError, ValueError) as e:
            raise ValueError(
                f"z-order column {c!r} has non-numeric-castable min/max "
                f"({stats[f'__mn_{c}']!r}, {stats[f'__mx_{c}']!r}) — "
                "z-order columns must be numeric (or cast to numeric first)"
            ) from e
        span = (mx - mn) or 1.0
        q = F.least(
            F.lit(max_q),
            F.greatest(
                F.lit(0),
                ((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * max_q)
                .cast("long"),
            ),
        )
        # spread column i's bit b to interleaved position b*k + i
        planes += [
            F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)), b * k + i)
            for b in range(bits)
        ]
    key = planes[0]
    for p in planes[1:]:
        key = key.bitwiseOR(p)
    return key, stats


def write_zorder_layout(
    df: DataFrame,
    path: str,
    *,
    zorder_cols: list[str],
    bits: int = 12,
    num_files: int | None = None,
) -> None:
    """Write `df` as parquet clustered on the Z-order curve of
    `zorder_cols` — the multi-dimensional analog of `write_range_layout`.

    Range-clustering one column gives perfect pruning on that column and
    none on any other; interleaving bit planes gives every z-order column
    partial pruning (each file covers a small hyper-rectangle, so its
    min/max stats are tight on ALL the curve's dimensions). This is the
    standard layout for tables filtered on several independent columns
    (e.g. user_id AND event value, tenant AND time).

    Cost model matches write_range_layout: one stats pass + one range
    shuffle — a maintenance job, not a hot-path operator.
    """
    try:
        key, _ = zorder_key(df, zorder_cols, bits=bits)
    except EmptyLayoutInput:
        # nothing to cluster — still produce the table so downstream
        # readers find a (schema-bearing, empty) parquet dataset
        df.write.mode("overwrite").parquet(path)
        return
    tagged = df.withColumn("__z", key)
    part = (
        tagged.repartitionByRange(num_files, "__z")
        if num_files
        else tagged.repartitionByRange("__z")
    )
    part.sortWithinPartitions("__z").drop("__z").write.mode("overwrite").parquet(
        path
    )
