"""CDC type conversions (F1-F4, P7) — native column expressions.

The reference applies these per sync-rule before the Redshift write
(cdc_util/redshift_sink.py:170-190, 416-441):
  * timestamp_columns : string -> timestamp with a configurable format,
    default "yyyy-MM-dd'T'HH:mm:ss'Z'" (:178, :189)
  * date_columns      : EITHER a string date OR the Flink-CDC int encoding
    "days since 1970-01-01" -> date via date_add (:185-187)
  * super_columns     : JSON-string passthrough; null/empty normalized to
    '{}' (:416-419)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_TS_FORMAT, SyncRule


def convert_timestamp_columns(
    df: DataFrame, cols: Sequence[str], fmt: str = DEFAULT_TS_FORMAT
) -> DataFrame:
    for c in cols:
        if c in df.columns:
            df = df.withColumn(c, F.to_timestamp(F.col(c), fmt))
    return df


def convert_date_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Int/digit-string values are Flink-CDC epoch-days (redshift_sink.py:185:
    `date_add('1970-01-01', cast(col as int))`); anything else is parsed as a
    date string (:187)."""
    for c in cols:
        if c not in df.columns:
            continue
        dtype = dict(df.dtypes)[c]
        if dtype in ("int", "bigint", "smallint", "tinyint"):
            conv = F.date_add(F.lit("1970-01-01").cast("date"), F.col(c).cast("int"))
        else:
            digit = F.trim(F.col(c)).rlike("^[0-9]+$")
            conv = F.when(
                digit, F.date_add(F.lit("1970-01-01").cast("date"), F.trim(F.col(c)).cast("int"))
            ).otherwise(F.to_date(F.col(c)))
        df = df.withColumn(c, conv)
    return df


def normalize_super_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """JSON columns: null/'' -> '{}' and tag the field metadata so a sink can
    map it to a semi-structured target type (redshift_sink.py:416-432)."""
    for c in cols:
        if c not in df.columns:
            continue
        normalized = F.when(
            F.col(c).isNull() | (F.col(c) == ""), F.lit("{}")
        ).otherwise(F.col(c))
        df = df.withColumn(c, normalized.alias(c, metadata={"super": True, "target_type": "super"}))
    return df


def safe_cast_integer(col, target: str = "smallint") -> "F.Column":
    """F9: defensive string->integer cast. The reference emits
    `case when trim(c) ~ '^[0-9]+$' then trim(c) else null end::smallint`
    (redshift_schema_evolution.py:149-153); here the same guard as a native
    expression — non-numeric strings become NULL instead of failing the load."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t.rlike("^[0-9]+$"), t).cast(target)


def apply_rule_conversions(df: DataFrame, rule: SyncRule) -> DataFrame:
    """All per-rule conversions in declaration order."""
    df = normalize_super_columns(df, rule.super_columns)
    df = convert_timestamp_columns(df, rule.timestamp_columns, rule.timestamp_format)
    df = convert_date_columns(df, rule.date_columns)
    return df
