"""Schema evolution: diff, DDL planning, fixed-schema casts.

Reference behavior (cdc_util/redshift_schema_evolution.py):
  * diff incoming DataFrame columns vs the live target catalog -> sets of
    columns to ADD / DROP (:57-69) and generated ALTER TABLE DDL (:188-211)
  * type mapping Spark -> target DDL (:157-186); widening only to string
  * ignore_ddl (fixed-schema) mode: read the target's schema and CAST the
    incoming columns to it instead, with a defensive regex guard for
    string->smallint (:137-155)

In-engine, the "catalog" is any StructType (parquet table, JDBC target, ...);
DDL strings are produced for JDBC sinks, and for managed parquet targets the
diff drives a select-list rewrite (add = null-filled, drop = projected out).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Spark type -> target DDL type (redshift_schema_evolution.py:157-186)
_DDL_TYPES: dict[type, str] = {
    T.IntegerType: "INTEGER",
    T.LongType: "BIGINT",
    T.DoubleType: "DOUBLE PRECISION",
    T.FloatType: "REAL",
    T.ShortType: "INTEGER",
    T.ByteType: "SMALLINT",
    T.BooleanType: "BOOLEAN",
    T.TimestampType: "TIMESTAMP",
    T.DateType: "DATE",
}


def ddl_type(field: T.StructField) -> str:
    """Map one field to a DDL type; StringType honors the super/maxlength
    metadata annotations (redshift_schema_evolution.py:170-178)."""
    dt = field.dataType
    if isinstance(dt, T.StringType):
        meta = field.metadata or {}
        if meta.get("super") or meta.get("target_type") == "super":
            return "SUPER"
        if meta.get("maxlength"):
            return f"VARCHAR({int(meta['maxlength'])})"
        return "VARCHAR(65535)"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    for spark_t, ddl in _DDL_TYPES.items():
        if isinstance(dt, spark_t):
            return ddl
    raise TypeError(f"not support data type: {dt.simpleString()}")  # :186


@dataclass(frozen=True)
class SchemaDiff:
    add: tuple[str, ...]   # in source, missing from target
    drop: tuple[str, ...]  # in target, gone from source

    @property
    def empty(self) -> bool:
        return not self.add and not self.drop


def diff_schemas(source: T.StructType, target: T.StructType) -> SchemaDiff:
    """Set difference over column names, order-preserving
    (redshift_schema_evolution.py:57-69)."""
    src = [f.name for f in source.fields]
    tgt = [f.name for f in target.fields]
    tgt_set, src_set = set(tgt), set(src)
    return SchemaDiff(
        add=tuple(c for c in src if c not in tgt_set),
        drop=tuple(c for c in tgt if c not in src_set),
    )


def alter_table_ddl(table: str, source: T.StructType, target: T.StructType) -> list[str]:
    """ALTER TABLE statements for a JDBC target
    (redshift_schema_evolution.py:188-211)."""
    d = diff_schemas(source, target)
    by_name = {f.name: f for f in source.fields}
    stmts = [
        f'ALTER TABLE {table} ADD COLUMN "{c}" {ddl_type(by_name[c])}' for c in d.add
    ]
    stmts += [f'ALTER TABLE {table} DROP COLUMN "{c}"' for c in d.drop]
    return stmts


# ---------------------------------------------------------------------------
# Live-catalog reverse normalization: pg_table_def type strings -> StructType
#
# ignore_ddl mode against a real JDBC target reads the live catalog and casts
# the incoming batch to IT (cdc_util/redshift_schema_evolution.py:97-135:
# "character varying(256)" -> varchar, "numeric(10,2)" -> numeric, ...).
# `catalog_to_struct` turns those catalog rows into the StructType that
# `cast_to_target` consumes; unknown type strings pass through uncast
# (the reference's cast=False path) as plain strings.
# ---------------------------------------------------------------------------

import re as _re


def catalog_query(table: str, schema: str = "public") -> str:
    """The reference's catalog probe (redshift_schema_evolution.py:98-100)."""
    return (
        'select "column", "type" from pg_table_def '
        f"where tablename = '{table}' and schemaname='{schema}'"
    )


def catalog_type_to_spark(type_str: str) -> T.DataType:
    """One catalog type string -> Spark type, mirroring the reference's
    substring-priority normalization (redshift_schema_evolution.py:106-129)."""
    s = type_str.strip().lower()
    if "timestamp" in s:
        return T.TimestampType()
    m = _re.search(r"(?:character\s+varying|character|varchar)\s*\((\d+)\)", s)
    if m:
        return T.StringType()  # length carried via metadata by catalog_to_struct
    if "boolean" in s:
        return T.BooleanType()
    if "date" in s:
        return T.DateType()
    # "double precision" (pg_table_def) / "double" (JDBC metadata, Derby)
    if "double" in s:
        return T.DoubleType()
    m = _re.search(r"(?:numeric|decimal)\s*\((\d+)\s*,\s*(\d+)\)", s)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    if "real" in s:
        return T.FloatType()
    if "bigint" in s:
        return T.LongType()
    if "smallint" in s:
        return T.ShortType()
    if "integer" in s:
        return T.IntegerType()
    if "super" in s:
        return T.StringType()
    return T.StringType()  # unknown: cast=False analog — no-op string cast


def catalog_to_struct(rows: list[tuple[str, str]]) -> T.StructType:
    """(column, catalog type string) rows -> StructType for cast_to_target.
    Varchar lengths land in `maxlength` metadata, SUPER in `super` metadata,
    so ddl_type() round-trips the same DDL back out."""
    fields = []
    for name, type_str in rows:
        dt = catalog_type_to_spark(type_str)
        meta: dict = {}
        s = type_str.strip().lower()
        m = _re.search(r"(?:character\s+varying|character|varchar)\s*\((\d+)\)", s)
        if m:
            meta["maxlength"] = int(m.group(1))
        if "super" in s:
            meta["super"] = True
        fields.append(T.StructField(name, dt, True, metadata=meta or None))
    return T.StructType(fields)


def cast_to_target(
    df: DataFrame, target: T.StructType, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """ignore_ddl (fixed-schema) mode: cast incoming columns to the target's
    types (redshift_schema_evolution.py:137-155). String->integral gets the
    reference's defensive digit-guard (:149-153) via try_cast semantics.
    `passthrough` columns (bookkeeping: op/ts_ms) are kept uncast. A target
    column the batch lacks is NULL, typed as the target's — the reference's
    INSERT column list leaves it unset — so the result carries every
    target column."""
    out = []
    by_name = {f.name: f for f in target.fields}
    for c in df.columns:
        f_t = by_name.get(c)
        if f_t is None:
            if c in passthrough:
                out.append(F.col(c))
            continue  # column not in fixed target schema -> dropped
        src_type = dict(df.dtypes)[c]
        dst = f_t.dataType
        if src_type == "string" and isinstance(
            dst, (T.ShortType, T.IntegerType, T.LongType, T.ByteType)
        ):
            guarded = F.when(
                F.trim(F.col(c)).rlike("^[0-9]+$"), F.trim(F.col(c))
            ).otherwise(F.lit(None))
            out.append(guarded.cast(dst).alias(c))
        else:
            out.append(F.col(c).cast(dst).alias(c))
    out += [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in target.fields if f.name not in df.columns
    ]
    return df.select(*out)
