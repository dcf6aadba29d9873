"""Last-write-wins dedup — the engine's central reduction (SURVEY §2.5).

Reference semantics (cdc_util/redshift_sink.py:193-211): within one
micro-batch, keep at most one row per primary key — the one with the highest
event time; Canal tiebreaks by position inside the exploded `data` array
(:206-209).

Scale notes:
  * `row_number` over Window(partitionBy pk) is a single hash shuffle on the
    key — the minimum possible for this semantics. AQE splits skewed keys.
  * We add deterministic tiebreaks (caller-supplied, e.g. a unique id) so the
    winner is stable under any partitioning — required for exactly-once
    replay (T7) and for oracle comparison.
  * The reference re-dedups a second time inside Redshift staging
    (ROW_NUMBER ... :474-476) because COPY appends; in-engine a single pass
    suffices — merge_changes() consumes the already-unique output.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: the changelog vocabulary every CDC format emits (sources/envelopes):
#: the change-type column and its delete and update codes, the event time,
#: and the arrival position that breaks equal-time ties
OP_COL = "op"
DELETE_OP = "d"
UPDATE_OP = "u"
TS_COL = "ts_ms"
TIEBREAK_COL = "data_index_aws"
#: the bookkeeping columns that never land in a merged target
BOOKKEEPING = (OP_COL, TS_COL, TIEBREAK_COL)


def _order_cols(order_by: Sequence[str | Column]) -> list[Column]:
    return [F.col(c).desc() if isinstance(c, str) else c for c in order_by]


def lww_dedup(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column] = (TS_COL,),
) -> DataFrame:
    """Keep the last write per key. `order_by` strings mean DESC on that
    column (highest wins); pass Column expressions for custom direction."""
    w = Window.partitionBy(*keys).orderBy(*_order_cols(order_by))
    return (
        df.withColumn("seqnum_aws", F.row_number().over(w))
        .filter(F.col("seqnum_aws") == 1)
        .drop("seqnum_aws")
    )


def latest_deletes(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column] = (TS_COL,),
) -> DataFrame:
    """Last delete image per key (save_delete / only_save_delete modes,
    cdc_util/redshift_sink.py:213-227): pre-filter to deletes, then LWW."""
    return lww_dedup(df.filter(F.col(OP_COL) == DELETE_OP), keys, order_by)
