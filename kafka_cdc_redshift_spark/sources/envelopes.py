"""CDC envelope schemas + deterministic changelog synthesis.

Envelope shapes follow the reference's consumed formats (FIXTURES.md §A;
samples at reference README.md:316-527):

  Debezium/Flink-CDC : {before, after, source{db,table,ts_ms,...}, op, ts_ms}
  AWS DMS            : {data, metadata{timestamp, record-type, operation,
                        schema-name, table-name}}
  Canal              : {data: [...], database, table, type, ts}
  Mongo change stream: {fullDocument, operationType, documentKey, ns, ts_ms}

Unlike the reference — which re-infers the JSON schema per table per batch
(cdc_util/redshift_sink.py:592, a full extra pass over the data) — we build
an explicit StructType for a known payload schema, so `from_json` parses in
one codegen'd pass and Catalyst can prune unused envelope fields.

The synth_* helpers build deterministic changelogs from the driver's parquet
tables so the DuckDB oracle can replay the identical change log (FIXTURES.md
§D). Spec (keyed on o_orderkey):
  * insert 'c' for every row,            ts_ms = epoch_ms(o_orderdate)
  * update 'u' where key % 3 == 0,       ts_ms + 3_600_000, totalprice * 1.1
  * delete 'd' where key % 7 == 0,       ts_ms + 7_200_000
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .files import load_table

# ---------------------------------------------------------------------------
# Envelope StructTypes (parameterized by the row payload schema)
# ---------------------------------------------------------------------------


def debezium_schema(payload: T.StructType) -> T.StructType:
    """Debezium / Flink-CDC / MSK-Debezium envelope (README.md:316-392)."""
    return T.StructType(
        [
            T.StructField("before", payload, True),
            T.StructField("after", payload, True),
            T.StructField(
                "source",
                T.StructType(
                    [
                        T.StructField("version", T.StringType(), True),
                        T.StructField("connector", T.StringType(), True),
                        T.StructField("name", T.StringType(), True),
                        T.StructField("ts_ms", T.LongType(), True),
                        T.StructField("snapshot", T.StringType(), True),
                        T.StructField("db", T.StringType(), True),
                        T.StructField("table", T.StringType(), True),
                    ]
                ),
                True,
            ),
            T.StructField("op", T.StringType(), True),
            T.StructField("ts_ms", T.LongType(), True),
        ]
    )


def dms_schema(payload: T.StructType) -> T.StructType:
    """AWS DMS envelope (README.md:393-413)."""
    return T.StructType(
        [
            T.StructField("data", payload, True),
            T.StructField(
                "metadata",
                T.StructType(
                    [
                        T.StructField("timestamp", T.StringType(), True),
                        T.StructField("record-type", T.StringType(), True),
                        T.StructField("operation", T.StringType(), True),
                        T.StructField("schema-name", T.StringType(), True),
                        T.StructField("table-name", T.StringType(), True),
                        T.StructField("transaction-id", T.LongType(), True),
                    ]
                ),
                True,
            ),
        ]
    )


def canal_schema(payload: T.StructType) -> T.StructType:
    """Canal envelope; `data` is an ARRAY of row images (redshift_sink.py:401-407)."""
    return T.StructType(
        [
            T.StructField("data", T.ArrayType(payload), True),
            T.StructField("database", T.StringType(), True),
            T.StructField("table", T.StringType(), True),
            T.StructField("type", T.StringType(), True),
            T.StructField("ts", T.LongType(), True),
        ]
    )


def mongo_schema(payload: T.StructType | None = None) -> T.StructType:
    """Mongo change-stream envelope; fullDocument kept as raw JSON string
    (doc -> SUPER, mongo_redshift_sink.py:157-168), so `payload` is
    unused."""
    return T.StructType(
        [
            T.StructField("_id", T.StringType(), True),
            T.StructField("operationType", T.StringType(), True),
            T.StructField("fullDocument", T.StringType(), True),
            T.StructField("documentKey", T.StringType(), True),
            T.StructField(
                "ns",
                T.StructType(
                    [
                        T.StructField("db", T.StringType(), True),
                        T.StructField("coll", T.StringType(), True),
                    ]
                ),
                True,
            ),
            T.StructField("ts_ms", T.LongType(), True),
        ]
    )


# ---------------------------------------------------------------------------
# The CDC format table: each cdc_format's routing decision and flatten,
# declared once. The fused parse (operators/normalize.route_parse), the
# streaming shell's entry census and schema inference (sources/infer.py)
# all build their routed predicate from it through a field accessor: a
# parsed-struct column for the parse, a get_json_object probe over the raw
# envelope for the census and inference — so the three cannot drift. The
# reference spells this as per-table routing regexes plus one op filter
# per format (cdc_util/redshift_sink.py:18-51, 200-226); here a table is
# routed by name, and a rule's regex becomes the names it matches
# (config.SyncRule.matches).
# ---------------------------------------------------------------------------

Field = Callable[[str], Column]


def parsed_fields(prefix: str) -> Field:
    """Accessor for a parsed envelope: dotted path -> struct column."""
    return lambda path: F.col(prefix + path)


def json_fields(value_col: str = "value") -> Field:
    """Accessor for a raw envelope: dotted path -> get_json_object probe
    (object-valued paths come back as raw JSON substrings)."""
    return lambda path: F.get_json_object(F.col(value_col), "$." + path)


def _map_expr(col: Column, mapping: dict[str, str]) -> Column:
    expr = F  # F.when opens the CASE, Column.when extends it
    for src, dst in mapping.items():
        expr = expr.when(col == src, F.lit(dst))
    return expr


@dataclass(frozen=True, eq=False)
class CdcFormat:
    """One envelope format; paths are dotted envelope field paths.
    Compared by identity: formats sharing an envelope share one spec, so
    a spec is the format's parse-shape key."""

    schema: Callable[..., T.StructType]  # envelope StructType of a payload
    db: str  # routing keys: db (DMS schema) and table (Mongo collection)
    table: str
    op: str  # op-code path, and the source codes the parse keeps -> c/u/d/r
    ops: dict[str, str]
    image: tuple[str, ...]  # row image: first non-null path; inference reads it
    flatten: Callable[..., DataFrame]  # (spec, routed df, prefix, emit_before)
    control: str | None = None  # record-type path; 'control' records drop
    array: bool = False  # the image is an array: one changelog row per element
    before: str | None = None  # before-image path (emit_before)
    typed: bool = True  # the envelope embeds a payload StructType

    def op_code(self, field: Field) -> Column:
        """The c/u/d/r op column; the source column itself under an
        identity map."""
        src = field(self.op)
        if all(k == v for k, v in self.ops.items()):
            return src
        return _map_expr(src, self.ops)

    def image_of(self, field: Field) -> Column:
        cols = [field(p) for p in self.image]
        return cols[0] if len(cols) == 1 else F.coalesce(*cols)

    def admits(self, field: Field, cond: Column | None = None) -> Column:
        """`cond` AND the gates an envelope must pass to be parsed:
        control records out, then known op codes only."""
        gates = [field(self.control) != "control"] if self.control else []
        for gate in gates + [field(self.op).isin(*self.ops)]:
            cond = gate if cond is None else cond & gate
        return cond

    def routed(self, field: Field, db: str, table: str | Sequence[str]) -> Column:
        """The routing decision: the envelope belongs to `db` and to one
        of the table names `table` (one name or a list; a rule's regex is
        resolved to names by `SyncRule.matches`) and passes the gates —
        exactly the envelopes the parse keeps. One name plans as `=`."""
        names = [table] if isinstance(table, str) else list(table)
        keys = (field(self.db) == db) & field(self.table).isin(*names)
        return self.admits(field, keys)

    def yields_rows(self, field: Field) -> Column:
        """The gates plus a non-empty image array (posexplode of an empty
        or null array yields no row): a raw envelope passing this parses
        to at least one changelog row."""
        gate = self.admits(field)
        if self.array:
            gate &= F.json_array_length(self.image_of(field)) > 0
        return gate


def _flatten_debezium(spec, k, prefix, emit_before):
    """Delete rows carry their image in `before`: the image coalesce
    replaces the reference's Python UDF JSON rewrite
    (cdc_util/redshift_sink.py:54-67). `emit_before` also carries the
    before image as one nested column `_before_img`."""
    field = parsed_fields(prefix)
    before = ["_before_img"] if emit_before else []
    flat = k.select(
        spec.image_of(field).alias("after"),
        spec.op_code(field).alias("op"),
        field("ts_ms").alias("ts_ms"),
        *[field(spec.before).alias(c) for c in before],
    )
    return flat.select("after.*", "op", "ts_ms", *before)


def _flatten_dms(spec, k, prefix, emit_before):
    """ts_ms from the ISO metadata.timestamp (redshift_sink.py:196-201)."""
    field = parsed_fields(prefix)
    return k.select(
        f"{prefix}{spec.image[0]}.*",
        spec.op_code(field).alias("op"),
        F.unix_millis(F.to_timestamp(field("metadata.timestamp"))).alias("ts_ms"),
    )


def _flatten_canal(spec, k, prefix, emit_before):
    """posexplode keeps the array position as `data_index_aws`, the
    dedup tiebreak (redshift_sink.py:401-407)."""
    field = parsed_fields(prefix)
    # posexplode_OUTER, then drop null-payload rows on the generated index:
    # a plain posexplode makes InferFiltersFromGenerate add size(data)>0 /
    # isnotnull(data), and predicate pushdown substitutes the FULL-schema
    # from_json into that filter below this projection — every envelope gets
    # JSON-parsed ~3x (NOTES.md pathology #2). The index filter is
    # equivalent (empty/null arrays yield a null index) and, being on a
    # generated column, cannot be pushed below the parse.
    exploded = k.select(
        F.posexplode_outer(spec.image_of(field)).alias("data_index_aws", "row"),
        spec.op_code(field).alias("op"),
        field("ts").alias("ts_ms"),
    ).filter(F.col("data_index_aws").isNotNull())
    return exploded.select("row.*", "op", "ts_ms", "data_index_aws")


def _flatten_mongo(spec, k, prefix, emit_before):
    """(doc_id, doc, op, ts_ms, ts_date). The doc stays a raw JSON string
    (SUPER duality, mongo_redshift_sink.py:157-168); doc_id is extracted
    natively instead of via the reference's regex UDF
    (mongo_redshift_sink.py:33-43): scalar `_id` taken verbatim, compound
    `_id` objects kept as canonical JSON."""
    field = parsed_fields(prefix)
    doc_id = F.coalesce(
        F.get_json_object(field("documentKey"), "$._id"), field("documentKey")
    )
    return k.select(
        doc_id.alias("doc_id"),
        F.coalesce(spec.image_of(field), F.lit("[]")).alias("doc"),
        spec.op_code(field).alias("op"),
        field("ts_ms").alias("ts_ms"),
        F.to_date(F.from_unixtime(field("ts_ms") / 1000)).alias("ts_date"),
    )


_DEBEZIUM = CdcFormat(
    debezium_schema, db="source.db", table="source.table",
    op="op", ops={"c": "c", "u": "u", "d": "d", "r": "r"},
    image=("after", "before"), flatten=_flatten_debezium, before="before",
)

#: cdc_format -> spec (the `cdc_format` job property's values)
CDC_FORMATS = {
    "FLINK-CDC": _DEBEZIUM,
    "MSK-DEBEZIUM-CDC": _DEBEZIUM,
    "DMS-CDC": CdcFormat(
        dms_schema, db="metadata.schema-name", table="metadata.table-name",
        op="metadata.operation",
        ops={"load": "r", "insert": "c", "update": "u", "delete": "d"},
        image=("data",), flatten=_flatten_dms, control="metadata.record-type",
    ),
    "CANAL-CDC": CdcFormat(
        canal_schema, db="database", table="table",
        op="type", ops={"INSERT": "c", "UPDATE": "u", "DELETE": "d"},
        image=("data",), flatten=_flatten_canal, array=True,
    ),
    "MONGO-CDC": CdcFormat(
        mongo_schema, db="ns.db", table="ns.coll", op="operationType",
        ops={"insert": "c", "update": "u", "replace": "u", "delete": "d"},
        image=("fullDocument",), flatten=_flatten_mongo, typed=False,
    ),
}


def cdc_format(name: str) -> CdcFormat:
    """The spec of `name`; ValueError naming the known formats."""
    spec = CDC_FORMATS.get(name)
    if spec is None:
        raise ValueError(
            f"unknown cdc_format {name!r}: use one of {', '.join(CDC_FORMATS)}"
        )
    return spec


# ---------------------------------------------------------------------------
# Deterministic changelog synthesis from the `orders` table
# ---------------------------------------------------------------------------

ORDERS_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
)

# DuckDB twin of synth_orders_changelog(); oracle queries build on this CTE.
ORDERS_CHANGELOG_SQL = """
changelog AS (
    SELECT 'c' AS op, epoch_ms(o_orderdate) AS ts_ms,
           o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM orders
    UNION ALL
    SELECT 'u', epoch_ms(o_orderdate) + 3600000,
           o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 'd', epoch_ms(o_orderdate) + 7200000,
           o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 7 = 0
)
"""


def synth_orders_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat (already parsed+flattened) changelog: op, ts_ms, <orders columns>.

    Delete rows carry the full row image — matching the engine's delete-image
    coalesce (reference rewrites after:=before for op='d',
    cdc_util/redshift_sink.py:54-67).
    """
    orders = load_table(spark, sf_dir, "orders")
    # parquet timestamps load as TIMESTAMP_NTZ in Spark 4; session TZ is UTC so
    # the LTZ cast is a no-op instant-wise and matches DuckDB's epoch_ms().
    base_ts = F.unix_millis(F.col("o_orderdate").cast("timestamp_ltz"))
    inserts = orders.select(
        F.lit("c").alias("op"), base_ts.alias("ts_ms"), *ORDERS_COLS
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * F.lit(1.1))
        .select(F.lit("u").alias("op"), (base_ts + 3_600_000).alias("ts_ms"), *ORDERS_COLS)
    )
    deletes = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .select(F.lit("d").alias("op"), (base_ts + 7_200_000).alias("ts_ms"), *ORDERS_COLS)
    )
    return inserts.unionByName(updates).unionByName(deletes)


def synth_debezium_topic(
    spark: SparkSession, sf_dir: str, ops: tuple[str, ...] | None = None,
    include_customer: bool = True,
) -> DataFrame:
    """Multiplexed Kafka-topic lookalike: DataFrame[value: string] carrying
    full Debezium envelopes for TWO tables (salesdb.orders + salesdb.customer)
    so routing has something to discriminate (reference routes by
    '"db":"X"' + '"table":"Y"' regex, cdc_util/redshift_sink.py:36-48).
    `ops` restricts the orders changelog (e.g. ('c',) for an insert-only
    batch in streaming tests)."""
    cl = synth_orders_changelog(spark, sf_dir)
    if ops is not None:
        cl = cl.filter(F.col("op").isin(*ops))
    row = F.struct(*[F.col(c) for c in ORDERS_COLS])
    orders_env = cl.select(
        F.to_json(
            F.struct(
                F.when(F.col("op") == "d", row).otherwise(F.lit(None)).alias("before"),
                F.when(F.col("op") != "d", row).otherwise(F.lit(None)).alias("after"),
                F.struct(
                    F.lit("salesdb").alias("db"),
                    F.lit("orders").alias("table"),
                    F.col("ts_ms").alias("ts_ms"),
                ).alias("source"),
                F.col("op"),
                F.col("ts_ms"),
            )
        ).alias("value")
    )
    if not include_customer:
        return orders_env
    cust = load_table(spark, sf_dir, "customer")
    cust_row = F.struct("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    cust_env = cust.select(
        F.to_json(
            F.struct(
                F.lit(None).cast("string").alias("before"),
                cust_row.alias("after"),
                F.struct(
                    F.lit("salesdb").alias("db"),
                    F.lit("customer").alias("table"),
                    F.lit(0).cast("long").alias("ts_ms"),
                ).alias("source"),
                F.lit("r").alias("op"),
                F.lit(0).cast("long").alias("ts_ms"),
            )
        ).alias("value")
    )
    return orders_env.unionByName(cust_env)


def synth_dms_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AWS-DMS-style envelopes (README.md:393-413) for salesdb.orders:
    `data` carries the row image, `metadata.timestamp` an ISO second-precision
    string, `metadata.operation` in {load,insert,update,delete}. Includes
    control records (metadata.record-type='control') that routing must drop
    (redshift_sink.py:24-29)."""
    cl = synth_orders_changelog(spark, sf_dir)
    op_name = (
        F.when(F.col("op") == "c", "insert")
        .when(F.col("op") == "u", "update")
        .when(F.col("op") == "d", "delete")
    )
    # second-precision ISO string; the synth changelog's ts_ms are whole
    # seconds (epoch_ms(date) + hour offsets) so no precision is lost
    iso_ts = F.date_format(
        F.timestamp_seconds(F.col("ts_ms") / 1000), "yyyy-MM-dd HH:mm:ss"
    )
    data_rows = cl.select(
        F.to_json(
            F.struct(
                F.struct(*[F.col(c) for c in ORDERS_COLS]).alias("data"),
                F.struct(
                    iso_ts.alias("timestamp"),
                    F.lit("data").alias("record-type"),
                    op_name.alias("operation"),
                    F.lit("salesdb").alias("schema-name"),
                    F.lit("orders").alias("table-name"),
                ).alias("metadata"),
            )
        ).alias("value")
    )
    control = spark.range(8).select(
        F.to_json(
            F.struct(
                F.struct(
                    F.lit("control").alias("record-type"),
                    F.lit("salesdb").alias("schema-name"),
                    F.lit("orders").alias("table-name"),
                ).alias("metadata"),
            )
        ).alias("value")
    )
    return data_rows.unionByName(control)


MONGO_TS_BASE = 1_700_000_000_000


def synth_mongo_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo change-stream envelopes (README.md:414-527) over `customer`:
    insert for every row, replace (acctbal+100) for custkey%3==0, delete for
    custkey%7==0; documentKey is the scalar-_id form; ts_ms deterministic
    from the key so the DuckDB oracle can replay it."""
    cust = load_table(spark, sf_dir, "customer")
    ts0 = (F.lit(MONGO_TS_BASE) + F.col("c_custkey") * 1000).cast("long")
    doc = F.to_json(F.struct("c_custkey", "c_name", "c_nationkey", "c_acctbal"))
    doc2 = F.to_json(
        F.struct(
            F.col("c_custkey"), F.col("c_name"), F.col("c_nationkey"),
            (F.col("c_acctbal") + 100).alias("c_acctbal"),
        )
    )
    dockey = F.concat(F.lit('{"_id": '), F.col("c_custkey"), F.lit("}"))

    def env(op, doc_col, ts):
        return F.to_json(
            F.struct(
                F.lit(op).alias("operationType"),
                doc_col.alias("fullDocument"),
                dockey.alias("documentKey"),
                F.struct(
                    F.lit("appdb").alias("db"), F.lit("customer").alias("coll")
                ).alias("ns"),
                ts.alias("ts_ms"),
            )
        ).alias("value")

    inserts = cust.select(env("insert", doc, ts0))
    replaces = cust.filter(F.col("c_custkey") % 3 == 0).select(
        env("replace", doc2, ts0 + 3_600_000)
    )
    deletes = cust.filter(F.col("c_custkey") % 7 == 0).select(
        env("delete", F.lit(None).cast("string"), ts0 + 7_200_000)
    )
    return inserts.unionByName(replaces).unionByName(deletes)


def synth_canal_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canal-style envelopes: each message's `data` array holds TWO images of
    the same row (second one with o_totalprice*2) at the same ts, so the
    positional tiebreak (max array index wins, redshift_sink.py:206-209)
    is what decides the winner."""
    orders = load_table(spark, sf_dir, "orders")
    v1 = F.struct(*[F.col(c) for c in ORDERS_COLS])
    v2 = F.struct(
        F.col("o_orderkey"), F.col("o_custkey"), F.col("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.col("o_orderdate"), F.col("o_orderpriority"),
    )
    return orders.select(
        F.array(v1, v2).alias("data"),
        F.lit("salesdb").alias("database"),
        F.lit("orders").alias("table"),
        F.lit("UPDATE").alias("type"),
        F.unix_millis(F.col("o_orderdate").cast("timestamp_ltz")).alias("ts"),
    )


def synth_debezium_before_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium topic whose UPDATE envelopes carry their true BEFORE
    image — what a real connector emits and what current-state
    incremental maintenance (functions/incremental.group_stats_cdc)
    consumes: an update is (-before, +after), a delete is (-before).
    Consistency matters: a key updated then deleted (o_orderkey % 21
    == 0) must be deleted with the UPDATED image as its before — the
    state being removed — not the original insert."""
    orders = load_table(spark, sf_dir, "orders")
    base_ts = F.unix_millis(F.col("o_orderdate").cast("timestamp_ltz"))
    orig = F.struct(*[F.col(c) for c in ORDERS_COLS])
    upd = F.struct(*[
        (F.col(c) * F.lit(1.1)).alias(c) if c == "o_totalprice" else F.col(c)
        for c in ORDERS_COLS
    ])
    live = F.when(F.col("o_orderkey") % 3 == 0, upd).otherwise(orig)

    def env(before, after, op, ts):
        return F.to_json(
            F.struct(
                before.alias("before"),
                after.alias("after"),
                F.struct(
                    F.lit("salesdb").alias("db"),
                    F.lit("orders").alias("table"),
                    ts.alias("ts_ms"),
                ).alias("source"),
                op.alias("op"),
                ts.alias("ts_ms"),
            )
        ).alias("value")

    null_row = F.lit(None).cast(
        "struct<" + ",".join(
            f"{f.name}:{f.dataType.simpleString()}"
            for f in orders.select(*ORDERS_COLS).schema.fields
        ) + ">"
    )
    inserts = orders.select(env(null_row, orig, F.lit("c"), base_ts))
    updates = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        env(orig, upd, F.lit("u"), base_ts + 3_600_000)
    )
    deletes = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        env(live, null_row, F.lit("d"), base_ts + 7_200_000)
    )
    return inserts.unionByName(updates).unionByName(deletes)
