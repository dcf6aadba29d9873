"""Event-time windowed aggregation + stateful operators for streams.

The reference has NO watermarks or event-time windows (SURVEY §2.8 T9):
late data is handled only by per-batch LWW + merge-by-pk. These operators
close that gap the Structured-Streaming way — the same code path works on a
batch DataFrame (the catalog's events_* queries are the batch twins), and on
a stream it carries watermark state in the state store.

At 100 TB / real streams: state lives in the configured state store
(RocksDB in production); watermark bounds state size; the shuffle key is the
window/group key so state is partitioned across executors.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def hourly_rollup(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    watermark: str | None = None,
    window: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling-window count+sum per event_type; pass `slide` for sliding
    windows (each event lands in window/slide overlapping windows, e.g.
    '1 hour'/'15 minutes' -> 4). With `watermark` set on a streaming input,
    late rows beyond the bound are dropped and closed windows are
    emitted/finalized (append mode capable)."""
    if watermark is not None:
        events = events.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(T.DecimalType(18, 2)))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Session windows per user (native session_window; gap-based merge is
    handled by the streaming state store on a stream)."""
    if watermark is not None:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.session_window(ts_col, gap).alias("sw"), "user_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: cross-batch key dedup (applyInPandasWithState)
# ---------------------------------------------------------------------------

DEDUP_STATE_SCHEMA = "max_ts LONG"


def _lww_mask(pdf, ts_col: str, max_seen: int | None):
    """Vectorized strict-LWW filter: keep a row iff its ts is strictly
    greater than every earlier-sorted ts in the batch AND the cross-batch
    high-water mark. Equivalent to the sequential scan (sort ascending, emit
    on new max) without per-row Python: prior-running-max via
    `np.maximum.accumulate` shifted one, floored at the state's mark."""
    import numpy as np

    pdf = pdf.sort_values(ts_col, kind="stable", ignore_index=True)
    ts = pdf[ts_col].to_numpy(dtype="int64")
    if not len(ts):
        return pdf
    prior = np.empty_like(ts)
    prior[0] = np.iinfo("int64").min
    np.maximum.accumulate(ts[:-1], out=prior[1:])
    if max_seen is not None:
        np.maximum(prior, np.int64(max_seen), out=prior)
    return pdf[ts > prior]


def _new_high_water(pdf, ts_col: str, max_seen: int | None) -> int | None:
    if not len(pdf):
        return max_seen
    batch_max = int(pdf[ts_col].max())
    return batch_max if max_seen is None else max(max_seen, batch_max)


def seen_keys_dedup(
    changes: DataFrame,
    keys: list[str],
    *,
    ts_col: str = "ts_ms",
    output_schema: T.StructType | str | None = None,
) -> DataFrame:
    """Streaming cross-batch LWW guard: emit a row only if its `ts_col` is
    strictly newer than the max already seen for its key — state carries one
    long per key. This upgrades the reference's per-batch-only LWW (SURVEY
    §2.8 T9: cross-batch ordering was delegated to merge-by-pk) into an
    in-stream filter: replayed/reordered envelopes never reach the sink.

    Works only on a streaming DataFrame (applyInPandasWithState); the batch
    twin is lww_dedup. State size = one long per live key, partitioned by
    the group key, RocksDB-backed in production.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    if output_schema is None:
        output_schema = changes.schema

    def dedup_fn(key: tuple, pdfs: Iterator, state: Any) -> Iterator:
        import pandas as pd

        max_seen = state.get[0] if state.exists else None
        pdf = pd.concat(list(pdfs), ignore_index=True)
        kept = _lww_mask(pdf, ts_col, max_seen)
        new_max = _new_high_water(pdf, ts_col, max_seen)
        if new_max is not None:
            state.update((new_max,))
        if len(kept):
            yield kept

    return changes.groupBy(*keys).applyInPandasWithState(
        dedup_fn,
        outputStructType=output_schema,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def watermarked_dedup(
    stream: DataFrame,
    keys: list[str],
    *,
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Exact at-least-once -> exactly-once key dedup with BOUNDED state:
    Spark's built-in `dropDuplicatesWithinWatermark`. Rows sharing `keys`
    whose event times fall within `delay` of the first-seen row are
    dropped; state for a key is evicted once the watermark passes, so
    state size is O(keys per delay window), not O(all keys ever).

    This is the zero-custom-code complement to the applyInPandasWithState
    LWW operator `seen_keys_dedup` above: use it when "drop exact
    redelivery duplicates" is the need (Kafka at-least-once), and
    `seen_keys_dedup` when the per-key *latest image* must win across
    batches. The reference has no analog (its redelivery safety is
    merge-by-pk idempotency, SURVEY §2.8 T7)."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    within: str = "15 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time interval bound: pairs
    rows sharing `on` where right event time falls in
    [left_ts, left_ts + within] (attribution joins: view->purchase,
    request->response, click->conversion).

    Both sides are watermarked and the join condition bounds the time
    skew, so Spark's symmetric hash join can EVICT state once the
    watermark passes — without the interval bound a stream-stream join
    buffers both streams forever. State per key is O(rows inside
    watermark+within), the 100 TB-stream requirement. Works identically
    on batch DataFrames (the watermark is a no-op there), which is how
    the oracle twin verifies the join semantics."""
    l_ = left.withWatermark(left_ts, watermark).alias("l")
    r_ = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return l_.join(r_, cond, how)


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    keys: list[str],
    *,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to every
    streaming row. Structured Streaming re-evaluates the STATIC side's
    plan each micro-batch, so a dim table backed by files picks up
    republished versions between batches without restarting the query —
    the standard slowly-refreshing-dimension pattern.

    The dim side broadcasts by default (dimensions are small next to a
    stream); pass `broadcast_dim=False` for a corpus-scale static side,
    where each batch then shuffles on the key instead. No streaming state
    is kept either way — a stream-static join is stateless, unlike
    stream-stream (see stream_interval_join).
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, keys, how)
