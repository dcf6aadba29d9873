"""Dynamic per-batch payload-schema inference (S4, dynamic mode).

The reference's core UX is syncing tables with NO declared schema: it
re-infers the payload schema per table per batch with
``spark.read.json(rdd)`` (cdc_util/redshift_sink.py:592; mongo twin
mongo_redshift_sink.py:221) — every shipped config relies on it
(config/job-4x.properties sync_table_list entries carry only db/table/pk).

Spark-first shape of the same capability:

  1. extract the payloads of the rows the parse keeps as RAW JSON
     substrings with `get_json_object` probes of the format spec's routed
     predicate (sources/envelopes.CDC_FORMATS; no full parse, no Python),
  2. infer over those strings JVM-side via `DataFrameReader.json` on a
     ``Dataset[String]`` — distributed Jackson inference, no per-row Python
     round-trip (the reference's `.rdd` path serializes every row through
     the Python worker),
  3. feed the inferred StructType to the fused route+parse
     (operators/normalize.py), which still runs as ONE codegen'd
     tokenization per row.

Cost model: inference is an extra scan of the batch per table (exactly the
reference's cost). At 100 TB declare static schemas or set `sample_limit`
— a LocalLimit stops the scan after enough rows per partition, bounding the
inference pass regardless of batch size.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import envelopes


def payload_strings(
    df: DataFrame,
    fmt: str,
    db: str,
    table: str | Sequence[str],
    *,
    value_col: str = "value",
) -> DataFrame:
    """One-column DataFrame[payload: string] of raw row-image JSON for the
    rows of a multiplexed topic that the fused parse would keep for
    (db, table) — `table` one name or a list of names: the format spec's
    routed predicate — keys, control-record and op-code gates — so an
    op-filtered event adds no columns.

    `get_json_object` returns the raw JSON substring for object-valued
    paths, so the payload survives un-tokenized for the inference reader
    (a `from_json` would need the very schema we're trying to discover).
    Debezium deletes carry their image in `before`; Canal's image is the
    raw top-level data[] array, which the JSON reader explodes into one
    record per element; Mongo deletes carry no fullDocument and, null,
    are skipped.
    """
    spec = envelopes.cdc_format(fmt)
    field = envelopes.json_fields(value_col)
    cond = spec.routed(field, db, table)
    payload = spec.image_of(field)
    return df.filter(cond & payload.isNotNull()).select(payload.alias("payload"))


def read_json_strings(spark: SparkSession, strings: DataFrame) -> DataFrame:
    """`spark.read.json` over a one-string-column DataFrame, JVM-side.

    Classic PySpark only exposes json() for paths/RDDs; the RDD route pays a
    Python round-trip per row. Going through Dataset[String] keeps the whole
    inference in the JVM. Falls back to the RDD path (e.g. Spark Connect,
    where no _jdf exists)."""
    try:
        jvm = spark._jvm
        jds = getattr(strings._jdf, "as")(jvm.org.apache.spark.sql.Encoders.STRING())
        return DataFrame(spark._jsparkSession.read().json(jds), spark)
    except Exception:  # noqa: BLE001 - connect/other backends
        return spark.read.json(strings.rdd.map(lambda r: r[0]))


def infer_payload_schema(
    df: DataFrame,
    fmt: str,
    db: str,
    table: str | Sequence[str],
    *,
    value_col: str = "value",
    sample_limit: int | None = None,
) -> T.StructType | None:
    """Infer the row-image StructType for (db, table) from the batch itself
    (`table` one name or a list of names, as `payload_strings`).

    Returns None when the batch holds no (parseable) rows for the table —
    callers should treat that as no-data, exactly like the reference's
    empty-filtered-rdd path (redshift_sink.py:585-592).
    """
    strings = payload_strings(df, fmt, db, table, value_col=value_col)
    if sample_limit is not None:
        strings = strings.limit(sample_limit)
    inferred = read_json_strings(df.sparkSession, strings)
    fields = [f for f in inferred.schema.fields if f.name != "_corrupt_record"]
    if not fields:
        return None
    return T.StructType(fields)
