"""Envelope parsing + normalization to a unified flat changelog.

Output contract of `route_parse` — the engine's internal changelog
relation:

    <payload columns...>, op: string in {'c','u','d','r'}, ts_ms: long
    (+ data_index_aws: int for Canal, the positional tiebreak)

This mirrors the reference's flatten step (`from_json` + select("kdata.*"),
cdc_util/redshift_sink.py:594) but with a STATIC payload schema — no per-batch
`spark.read.json` inference pass (redshift_sink.py:592), which at scale is a
full extra scan of every micro-batch.

Route and parse are fused into ONE from_json per topic row. Routing by
`get_json_object` probes and then parsing tokenizes each envelope up to 5x:
3 routing probes, the op filter pushed below the flatten projection
(re-parsing with a pruned schema), and the full parse itself. With the
routing + op conjuncts on the parsed struct, Catalyst pushes them below the
projection as ONE pruned (metadata-only) parse — non-matching rows of the
multiplexed topic are eliminated without ever building the payload struct,
and only matching rows pay the full parse. Replaces the reference's
per-table regex-UDF route + re-inferred from_json
(cdc_util/redshift_sink.py:18-51,585,592-594). Each format's paths, op
codes and flatten come from its spec (sources/envelopes.CDC_FORMATS).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources import envelopes


def route_parse(
    df: DataFrame, fmt: str, db: str, table: str | Sequence[str],
    payload: T.StructType | None = None, *, value_col: str = "value",
    emit_before: bool = False,
) -> DataFrame:
    """Route the `fmt` envelopes of (db, table) out of a multiplexed topic
    and flatten them, in one parse. `table` is one name or a list of names
    (routed with one `isin`; a rule's regex is resolved to names by
    `SyncRule.matches`). `payload` is the row-image StructType (unused by
    MONGO-CDC, whose doc stays raw JSON).

    `emit_before=True` (Debezium formats) additionally carries the
    envelope's BEFORE image as one nested struct column `_before_img`
    (null for inserts/snapshots) — the input current-state incremental
    maintenance needs: an update retracts its before and asserts its after
    (functions/incremental.group_stats_cdc). Kept nested so the flat
    payload namespace is untouched; consumers that don't read it pay
    nothing (column pruning drops it at the parse)."""
    spec = envelopes.cdc_format(fmt)
    if spec.typed and payload is None:
        raise ValueError(f"{fmt} route_parse needs a payload StructType")
    if emit_before and spec.before is None:
        raise ValueError(f"{fmt} envelopes carry no before image")
    k = df.select(F.from_json(F.col(value_col), spec.schema(payload)).alias("k"))
    k = k.filter(spec.routed(envelopes.parsed_fields("k."), db, table))
    return spec.flatten(spec, k, "k.", emit_before)


def route_parse_debezium(
    df: DataFrame, db: str, table: str | Sequence[str], payload: T.StructType,
    *, value_col: str = "value", emit_before: bool = False,
) -> DataFrame:
    return route_parse(df, "FLINK-CDC", db, table, payload, value_col=value_col,
                       emit_before=emit_before)


def route_parse_dms(
    df: DataFrame, schema_name: str, table: str | Sequence[str],
    payload: T.StructType, *, value_col: str = "value",
) -> DataFrame:
    return route_parse(df, "DMS-CDC", schema_name, table, payload,
                       value_col=value_col)


def route_parse_canal(
    df: DataFrame, database: str, table: str | Sequence[str],
    payload: T.StructType, *, value_col: str = "value",
) -> DataFrame:
    return route_parse(df, "CANAL-CDC", database, table, payload,
                       value_col=value_col)


def route_parse_mongo(
    df: DataFrame, db: str, coll: str | Sequence[str], *,
    value_col: str = "value",
) -> DataFrame:
    return route_parse(df, "MONGO-CDC", db, coll, value_col=value_col)


def explode_canal(df: DataFrame) -> DataFrame:
    """Canal envelopes already parsed into top-level columns (data,
    database, table, type, ts) -> flat changelog: the Canal op filter and
    flatten of `route_parse`, without routing."""
    spec = envelopes.cdc_format("CANAL-CDC")
    kept = df.filter(spec.admits(envelopes.parsed_fields("")))
    return spec.flatten(spec, kept, "", False)
