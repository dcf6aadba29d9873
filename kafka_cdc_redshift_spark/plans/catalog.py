"""Query catalog: every operator exposed through __spark_entry__.py.

Each QuerySpec pairs a Spark DataFrame program with the equivalent DuckDB SQL
oracle (driver contract). Conventions keeping the two hash-identical:

  * money/value aggregates: cast operands to DECIMAL before summing (exact,
    order-independent), cast the final sum to DOUBLE — both engines produce
    the same exact decimal, hence the same double.
  * timestamps: output TIMESTAMP_NTZ on the Spark side (parquet loads NTZ;
    DuckDB's TIMESTAMP is naive) so Arrow types line up.
  * every computed column aliased identically in both programs.
  * deterministic tiebreaks (unique id columns) in any top-k / row_number.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import (
    latest_deletes,
    lww_dedup,
    explode_canal,
    merge_changes,
    route_parse_canal,
    route_parse_debezium,
    route_parse_dms,
    route_parse_mongo,
)
from ..operators.dedup import lww_dedup as _lww
from ..operators.schema_evolution import diff_schemas
from ..operators.typeconv import (
    convert_date_columns,
    convert_timestamp_columns,
    safe_cast_integer,
)
from ..sources import load_table
from ..util import spread
from ..sources.envelopes import (
    MONGO_TS_BASE,
    ORDERS_CHANGELOG_SQL,
    synth_canal_topic,
    synth_debezium_before_topic,
    synth_debezium_topic,
    synth_dms_topic,
    synth_mongo_topic,
    synth_orders_changelog,
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    doc: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None -> rows-only check


SPECS: dict[str, QuerySpec] = {}


def _spec(name: str, doc: str, oracle: str | None):
    def deco(fn):
        SPECS[name] = QuerySpec(name, doc, fn, oracle)
        return fn
    return deco


# value = (session, df): holding the session object keeps its id() from
# being reused by a successor session (which would alias the cache key)
_FIXTURE_CACHE: dict[tuple, tuple[SparkSession, DataFrame]] = {}


def _session_stopped(spark: SparkSession) -> bool:
    try:
        return spark._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 - connect/other backends: can't probe
        return False


def _evict_stopped_sessions() -> None:
    """Cached DataFrames must not outlive their session: a long-lived
    library consumer that stops one session and starts another would
    otherwise hold (and maybe be handed) plans bound to a dead JVM state."""
    dead = [k for k, (sess, _) in _FIXTURE_CACHE.items() if _session_stopped(sess)]
    for k in dead:
        del _FIXTURE_CACHE[k]


def _fixture(spark: SparkSession, sf_dir: str, name: str, builder) -> DataFrame:
    """Materialize a synthetic CDC topic/changelog once per (session, sf).

    The synth_* DataFrames stand in for a Kafka source. A real deployment
    reads ready-made bytes from the broker; the JSON-envelope *synthesis*
    (struct build + to_json over the base tables) is fixture overhead, not
    engine work. Caching it keeps both tests and bench measuring the engine
    path — route -> parse -> dedup -> merge — the way BASELINE.md's
    records-per-trigger envelope is defined."""
    _evict_stopped_sessions()
    key = (id(spark), sf_dir, name)
    if key not in _FIXTURE_CACHE:
        # force-spread before caching: the cached partitioning is what every
        # downstream route/parse stage runs at, and topic builders union a
        # few fat branches (3 parquet scans) with many near-empty ones —
        # partition COUNT looks fine but 3 tasks would carry all rows
        df = spread(builder(spark, sf_dir), force=True).cache()
        df.count()
        _FIXTURE_CACHE[key] = (spark, df)
    return _FIXTURE_CACHE[key][1]


def warm_fixtures(spark: SparkSession, sf_dir: str) -> None:
    """Materialize every synthetic topic/changelog fixture up front (bench
    warmup): fixture synthesis is stand-in-for-Kafka cost, not engine cost,
    and eagerly building all of them keeps it out of per-query timings."""
    for name, builder in (
        ("changelog", synth_orders_changelog),
        ("debezium_topic", synth_debezium_topic),
        ("debezium_before_topic", synth_debezium_before_topic),
        ("dms_topic", synth_dms_topic),
        ("mongo_topic", synth_mongo_topic),
        ("canal_topic", synth_canal_topic),
        (
            "canal_json_topic",
            lambda s, d: synth_canal_topic(s, d).select(
                F.to_json(F.struct("*")).alias("value")
            ),
        ),
    ):
        _fixture(spark, sf_dir, name, builder)


def _dec(col, p=18, s=2):
    return col.cast(T.DecimalType(p, s))


# ---------------------------------------------------------------------------
# CDC parity queries (SURVEY §2: W1-W6, J1-J3, P1-P10, F1-F6, D1-D6)
# ---------------------------------------------------------------------------

@_spec(
    "cdc_lww_dedup",
    "W1/W2: last-write-wins per pk within a batch (row_number over ts desc)",
    f"""WITH {ORDERS_CHANGELOG_SQL}
    SELECT o_orderkey, op, ts_ms, o_totalprice FROM (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY ts_ms DESC) rn
      FROM changelog) t WHERE rn = 1""",
)
def q_cdc_lww_dedup(spark, sf_dir):
    cl = _fixture(spark, sf_dir, "changelog", synth_orders_changelog)
    return lww_dedup(cl, ["o_orderkey"], ["ts_ms"]).select(
        "o_orderkey", "op", "ts_ms", "o_totalprice"
    )


@_spec(
    "cdc_merge_into",
    "J2+J3: apply changelog to keyed target (delete-using + upsert)",
    """SELECT o_orderkey, o_custkey, o_orderstatus,
              CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                   ELSE o_totalprice END AS o_totalprice,
              o_orderdate, o_orderpriority
       FROM orders WHERE o_orderkey % 7 != 0""",
)
def q_cdc_merge_into(spark, sf_dir):
    target = load_table(spark, sf_dir, "orders")
    cl = _fixture(spark, sf_dir, "changelog", synth_orders_changelog)
    return merge_changes(target, cl, ["o_orderkey"])


@_spec(
    "cdc_delete_stream",
    "W5: last delete image per pk (save_delete / only_save_delete)",
    f"""WITH {ORDERS_CHANGELOG_SQL}
    SELECT o_orderkey, op, ts_ms FROM changelog WHERE op = 'd'""",
)
def q_cdc_delete_stream(spark, sf_dir):
    cl = _fixture(spark, sf_dir, "changelog", synth_orders_changelog)
    return latest_deletes(cl, ["o_orderkey"], ["ts_ms"]).select(
        "o_orderkey", "op", "ts_ms"
    )


@_spec(
    "cdc_pipeline_debezium",
    "S2+P1+P3+W1+J2+J3 end-to-end: multiplexed JSON topic -> route -> "
    "from_json flatten -> dedup -> merge",
    """SELECT o_orderkey,
              CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                   ELSE o_totalprice END AS o_totalprice,
              o_orderdate
       FROM orders WHERE o_orderkey % 7 != 0""",
)
def q_cdc_pipeline_debezium(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    topic = _fixture(spark, sf_dir, "debezium_topic", synth_debezium_topic)
    parsed = route_parse_debezium(topic, "salesdb", "orders", orders.schema)
    merged = merge_changes(orders, parsed, ["o_orderkey"])
    return merged.select("o_orderkey", "o_totalprice", "o_orderdate")


@_spec(
    "cdc_merge_skip_delete",
    "skip_delete=true: deletes are retained as upserts of their last row "
    "image (the reference's intended semantics at redshift_sink.py:456, "
    "implemented without the 'ture' typo)",
    """SELECT o_orderkey,
              CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice      -- delete image (latest ts) wins
                   WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                   ELSE o_totalprice END AS o_totalprice
       FROM orders""",
)
def q_cdc_merge_skip_delete(spark, sf_dir):
    target = load_table(spark, sf_dir, "orders")
    cl = _fixture(spark, sf_dir, "changelog", synth_orders_changelog)
    merged = merge_changes(target, cl, ["o_orderkey"], skip_delete=True)
    return merged.select("o_orderkey", "o_totalprice")


@_spec(
    "cdc_canal_json",
    "Canal JSON end-to-end: route by database/table -> from_json (array "
    "payload) -> posexplode with positional tiebreak -> winners",
    "SELECT o_orderkey, o_totalprice * 2 AS o_totalprice FROM orders",
)
def q_cdc_canal_json(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    topic = _fixture(
        spark, sf_dir, "canal_json_topic",
        lambda s, d: synth_canal_topic(s, d).select(
            F.to_json(F.struct("*")).alias("value")
        ),
    )
    parsed = route_parse_canal(topic, "salesdb", "orders", orders.schema)
    winners = lww_dedup(parsed, ["o_orderkey"], ["ts_ms", "data_index_aws"])
    return winners.select("o_orderkey", "o_totalprice")


@_spec(
    "cdc_pipeline_dms",
    "S2+P1(DMS)+P3+W2+J2+J3 end-to-end: DMS envelopes (incl. control records "
    "to drop) -> route -> parse -> dedup on metadata.timestamp -> merge",
    """SELECT o_orderkey,
              CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                   ELSE o_totalprice END AS o_totalprice,
              o_orderstatus
       FROM orders WHERE o_orderkey % 7 != 0""",
)
def q_cdc_pipeline_dms(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    topic = _fixture(spark, sf_dir, "dms_topic", synth_dms_topic)
    parsed = route_parse_dms(topic, "salesdb", "orders", orders.schema)
    merged = merge_changes(orders, parsed, ["o_orderkey"])
    return merged.select("o_orderkey", "o_totalprice", "o_orderstatus")


@_spec(
    "cdc_pipeline_mongo",
    "Mongo change stream end-to-end: route by ns -> doc_id extract (P8 as "
    "native get_json_object) -> W4 dedup -> delete filter -> field extraction "
    "from the SUPER/JSON doc (F4 epoch-millis conversions)",
    f"""SELECT c_custkey::VARCHAR AS doc_id,
              c_name,
              CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100
                   ELSE c_acctbal END AS c_acctbal,
              {MONGO_TS_BASE} + c_custkey * 1000
                + CASE WHEN c_custkey % 3 = 0 THEN 3600000 ELSE 0 END AS ts_ms
       FROM customer WHERE c_custkey % 7 != 0""",
)
def q_cdc_pipeline_mongo(spark, sf_dir):
    topic = _fixture(spark, sf_dir, "mongo_topic", synth_mongo_topic)
    parsed = route_parse_mongo(topic, "appdb", "customer")
    latest = lww_dedup(parsed, ["doc_id"], ["ts_ms"])
    alive = latest.filter(F.col("op") != "d")
    return alive.select(
        "doc_id",
        F.get_json_object("doc", "$.c_name").alias("c_name"),
        F.get_json_object("doc", "$.c_acctbal").cast("double").alias("c_acctbal"),
        "ts_ms",
    )


@_spec(
    "cdc_safe_cast",
    "F9: defensive string->smallint cast (regex-guarded; garbage -> NULL)",
    """SELECT o_orderkey,
              CASE WHEN o_orderkey % 3 = 0 THEN ('  ' || (o_orderkey % 100) || ' ')
                   WHEN o_orderkey % 3 = 1 THEN 'x' || o_orderkey
                   ELSE (o_orderkey % 1000)::VARCHAR END AS raw,
              CASE WHEN o_orderkey % 3 = 0 THEN (o_orderkey % 100)::SMALLINT
                   WHEN o_orderkey % 3 = 1 THEN NULL
                   ELSE (o_orderkey % 1000)::SMALLINT END AS casted
       FROM orders""",
)
def q_cdc_safe_cast(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    raw = (
        F.when(k % 3 == 0, F.concat(F.lit("  "), (k % 100).cast("string"), F.lit(" ")))
        .when(k % 3 == 1, F.concat(F.lit("x"), k.cast("string")))
        .otherwise((k % 1000).cast("string"))
    )
    return orders.select(
        "o_orderkey", raw.alias("raw"), safe_cast_integer(raw).alias("casted")
    )


@_spec(
    "cdc_canal_explode",
    "F5+W3: Canal data[] posexplode with positional dedup tiebreak",
    "SELECT o_orderkey, o_totalprice * 2 AS o_totalprice FROM orders",
)
def q_cdc_canal_explode(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    topic = _fixture(spark, sf_dir, "canal_topic", synth_canal_topic)
    parsed = explode_canal(topic)
    winners = lww_dedup(parsed, ["o_orderkey"], ["ts_ms", "data_index_aws"])
    return winners.select("o_orderkey", "o_totalprice")


@_spec(
    "cdc_typeconv",
    "F1-F3: ISO-string -> timestamp, epoch-days int -> date",
    """SELECT o_orderkey, o_orderdate AS ts, o_orderdate::DATE AS dt
       FROM orders""",
)
def q_cdc_typeconv(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    encoded = orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).alias("dt"),
    )
    conv = convert_timestamp_columns(encoded, ["ts"])
    conv = convert_date_columns(conv, ["dt"])
    return conv.select(
        "o_orderkey", F.col("ts").cast("timestamp_ntz").alias("ts"), "dt"
    )


@_spec(
    "cdc_schema_evolution",
    "D1-D6: add/drop diff between incoming schema and target catalog",
    """SELECT column_name AS col_name, 'add' AS action
       FROM (DESCRIBE SELECT * FROM orders) WHERE column_name = 'o_orderpriority'
       UNION ALL SELECT 'legacy_flag', 'drop'""",
)
def q_cdc_schema_evolution(spark, sf_dir):
    source = load_table(spark, sf_dir, "orders").schema
    target_fields = [f for f in source.fields if f.name != "o_orderpriority"]
    target = T.StructType(target_fields + [T.StructField("legacy_flag", T.StringType())])
    d = diff_schemas(source, target)
    rows = [(c, "add") for c in d.add] + [(c, "drop") for c in d.drop]
    return spark.createDataFrame(rows, T.StructType([
        T.StructField("col_name", T.StringType(), False),
        T.StructField("action", T.StringType(), False),
    ]))


# ---------------------------------------------------------------------------
# Relational surface (Catalyst built-ins the engine exposes: agg/join/window)
# ---------------------------------------------------------------------------

@_spec(
    "q1_pricing_summary",
    "A: grouped aggregation with exact decimal sums (TPC-H Q1 shape)",
    """SELECT l_returnflag, l_linestatus,
              CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE) AS sum_qty,
              CAST(sum(l_extendedprice::DECIMAL(12,2)) AS DOUBLE) AS sum_base_price,
              CAST(sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
              CAST(sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))
                       * (1 + l_tax::DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
              count(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def q_q1(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    price = _dec(F.col("l_extendedprice"), 12, 2)
    disc = _dec(F.col("l_discount"), 4, 2)
    tax = _dec(F.col("l_tax"), 4, 2)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"), 12, 2)).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_spec(
    "q3_shipping_priority",
    "J+A+topk: 3-way join, grouped revenue, deterministic top-10",
    """SELECT l_orderkey,
              CAST(sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))) AS DOUBLE) AS revenue,
              o_orderdate, o_orderpriority
       FROM customer
       JOIN orders   ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1998-01-01'
         AND l_shipdate  > TIMESTAMP '1998-01-01'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, l_orderkey LIMIT 10""",
)
def q_q3(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    revenue = _dec(F.col("l_extendedprice"), 12, 2) * (F.lit(1) - _dec(F.col("l_discount"), 4, 2))
    # broadcast ONLY the dimension (customer); orders is fact-sided and
    # scales with the data — a forced broadcast OOMs the driver at 100x.
    # AQE decides the orders-side strategy from runtime sizes instead.
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@_spec(
    "q5_local_supplier_volume",
    "multi-join star query with region/nation dims broadcast",
    """SELECT n_name,
              CAST(sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))) AS DOUBLE) AS revenue
       FROM customer
       JOIN orders   ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       JOIN nation   ON s_nationkey = n_nationkey
       JOIN region   ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate <  TIMESTAMP '1997-01-01'
       GROUP BY n_name""",
)
def q_q5(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = _dec(F.col("l_extendedprice"), 12, 2) * (F.lit(1) - _dec(F.col("l_discount"), 4, 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp), (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey)
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@_spec(
    "top_customers_per_segment",
    "W: ranking window with deterministic tiebreak, top-3 per group",
    """SELECT c_mktsegment, c_custkey, c_acctbal, rnk FROM (
         SELECT c_mktsegment, c_custkey, c_acctbal,
                row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal DESC, c_custkey) AS rnk
         FROM customer) t WHERE rnk <= 3""",
)
def q_top_customers(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rnk")
    )


# ---------------------------------------------------------------------------
# Events stream surface (batch twins of the streaming ops, T9 gap filled)
# ---------------------------------------------------------------------------

@_spec(
    "events_hourly_rollup",
    "tumbling-window aggregation (streaming twin: window(ts, '1 hour'))",
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
              count(*) AS n_events,
              CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1, 2""",
)
def q_events_hourly(spark, sf_dir):
    from ..streaming.windows import hourly_rollup

    ev = load_table(spark, sf_dir, "events")
    return hourly_rollup(ev).select(
        F.col("window_start").cast("timestamp_ntz").alias("hour_start"),
        "event_type", "n_events", "sum_value",
    )


@_spec(
    "events_last_state",
    "W4 analog: latest event per user (LWW over an append stream)",
    """SELECT user_id, event_id, event_type, value FROM (
         SELECT user_id, event_id, event_type, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events) t WHERE rn = 1""",
)
def q_events_last_state(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    latest = _lww(ev, ["user_id"], ["ts", "event_id"])
    return latest.select("user_id", "event_id", "event_type", "value")


@_spec(
    "events_json_extract",
    "F6/F7: JSON path extraction from a props column + grouped sum",
    """SELECT user_id,
              CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
              count(*) AS n_clicks
       FROM events WHERE event_type = 'click' GROUP BY user_id""",
)
def q_events_json(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "click")
        .withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .groupBy("user_id")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n_clicks"))
    )


@_spec(
    "events_rollup_totals",
    "ROLLUP grouping sets: per (event_type, user_id) with subtotals and a "
    "grand total in one pass (Catalyst expands to a single shuffle)",
    """SELECT event_type, user_id, count(*) AS n,
              CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) AS sum_value
       FROM events
       GROUP BY ROLLUP (event_type, user_id)""",
)
def q_events_rollup_totals(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.rollup("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(F.col("value"), 18, 2)).cast("double").alias("sum_value"),
    )


@_spec(
    "events_approx_distinct",
    "HyperLogLog approx_count_distinct per event_type, made hash-checkable: "
    "the sketch itself differs across engines by construction, so the "
    "deterministic outputs are the exact count plus a Spark-computed "
    "`approx_within_bounds` flag (|approx-exact|/exact <= 0.05, 2.5x the "
    "configured rsd; measured max error on this data is 0.4%) — the oracle "
    "asserts the exact count and literal TRUE, so the HLL path is still "
    "exercised and a drifting sketch turns the row red",
    """SELECT event_type,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
              CAST(count(*) AS BIGINT) AS n_events,
              TRUE AS approx_within_bounds
       FROM events GROUP BY event_type""",
)
def q_events_approx_distinct(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users_exact"),
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id", 0.02).alias("__approx"),
        )
        .withColumn(
            "approx_within_bounds",
            F.abs(F.col("__approx") - F.col("n_users_exact"))
            <= F.col("n_users_exact") * F.lit(0.05),
        )
        .drop("__approx")
    )


@_spec(
    "events_salted_agg",
    "two-phase salted aggregation for skewed keys: salt -> partial agg -> "
    "re-agg; result identical to the direct groupBy, but no single reducer "
    "ever sees a whole hot key",
    """SELECT event_type, count(*) AS n,
              CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) AS sum_value
       FROM events GROUP BY event_type""",
)
def q_events_salted_agg(spark, sf_dir):
    from ..operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        ["event_type"],
        partial=[
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec(F.col("value"), 18, 2)).alias("sum_value"),
        ],
        final=[
            F.sum("n").alias("n"),
            F.sum("sum_value").cast("double").alias("sum_value"),
        ],
        salt_buckets=16,
    )


@_spec(
    "events_asof_enrich",
    "two-leg as-of join, one per key regime: each event enriched with "
    "the user's most recent order at-or-before event time (user_id is "
    "corpus-scaled -> the single-hash-shuffle union+window formulation) "
    "AND with its type's last COMPLETED hour's mean value (event_type "
    "is dimension-sized -> low_cardinality=True routes the carry "
    "through the two-pass block prefix scan, no per-type reducer); "
    "both legs point-in-time correct, no future leakage",
    """WITH day_orders AS (
         SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
                CAST(sum(o_totalprice::DECIMAL(12,2)) AS DOUBLE) AS day_total
         FROM orders GROUP BY 1, 2),
       hr AS (
         SELECT event_type,
                date_trunc('hour', ts) + INTERVAL 1 HOUR AS visible_at,
                CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) / count(value)
                  AS type_hour_mean
         FROM events GROUP BY 1, 2)
       SELECT l.event_id, l.user_id, l.event_type, l.ts,
              r.o_orderkey AS last_orderkey, r.day_total, h.type_hour_mean
       FROM events l
       ASOF LEFT JOIN day_orders r
         ON l.user_id = r.o_custkey AND l.ts >= r.o_orderdate
       ASOF LEFT JOIN hr h
         ON l.event_type = h.event_type AND l.ts >= h.visible_at""",
)
def q_events_asof_enrich(spark, sf_dir):
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    day_orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("last_orderkey"),
            F.sum(_dec(F.col("o_totalprice"), 12, 2)).cast("double").alias("day_total"),
        )
    )
    # leg 1: user-level state — user_id scales with the corpus, so the
    # default one-shuffle union+window plan is the right shape
    enriched = asof_join(
        ev, day_orders, on=["user_id"], left_time="ts", right_time="o_orderdate"
    )
    # leg 2: type-level state — a completed-hour stat becomes visible at
    # the hour's END (leak-free); event_type is a handful of values, so
    # the default plan would funnel each type's full timeline through
    # one task — low_cardinality=True runs the carry through the block
    # prefix scan instead (r9 verdict item #5: this leg is the catalog's
    # driver row for the running_agg-backed as-of path)
    hr = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("__h"))
        .agg(
            (F.sum(_dec(F.col("value"), 18, 2)).cast("double")
             / F.count("value")).alias("type_hour_mean")
        )
        .select(
            "event_type",
            (F.col("__h") + F.expr("INTERVAL 1 HOUR")).alias("visible_at"),
            "type_hour_mean",
        )
    )
    return asof_join(
        enriched, hr, on=["event_type"], left_time="ts",
        right_time="visible_at", low_cardinality=True,
    )


@_spec(
    "events_range_join",
    "interval (range) join via granule bucketing: events matched into "
    "half-day windows per user — equi-join on (key, granule) + residual "
    "range filter instead of a per-key cross join",
    """WITH wins AS (
         SELECT user_id, date_trunc('day', ts)::TIMESTAMP AS win_start,
                date_trunc('day', ts)::TIMESTAMP + INTERVAL 12 HOUR AS win_end
         FROM events GROUP BY 1, 2)
       SELECT l.event_id, l.user_id, l.ts, r.win_start
       FROM events l JOIN wins r
         ON l.user_id = r.user_id
        AND l.ts >= r.win_start AND l.ts < r.win_end""",
)
def q_events_range_join(spark, sf_dir):
    from ..operators.asof import range_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    wins = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("win_start"))
        .agg(F.lit(1).alias("__one"))
        .select(
            "user_id",
            F.col("win_start").cast("timestamp_ntz").alias("win_start"),
            (F.col("win_start") + F.expr("INTERVAL 12 HOURS"))
            .cast("timestamp_ntz")
            .alias("win_end"),
        )
    )
    return range_join(
        ev, wins, on=["user_id"], left_time="ts",
        right_start="win_start", right_end="win_end", granule="12 hours",
    ).select("event_id", "user_id", "ts", "win_start")


@_spec(
    "events_sessionize",
    "session windows (native session_window; streaming-capable)",
    """WITH g AS (
         SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                     THEN 1 ELSE 0 END AS new_s
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), s AS (
         SELECT user_id, ts,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_id
         FROM g)
       SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
              count(*) AS n_events
       FROM s GROUP BY user_id, session_id""",
)
def q_events_sessionize(spark, sf_dir):
    from ..streaming.windows import sessionize

    return sessionize(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Analytic query breadth: filter-agg pushdown, semi-join, fact-fact joins,
# conditional aggregation, having-filter, funnel / cohort analytics
# ---------------------------------------------------------------------------

@_spec(
    "q6_forecast_revenue",
    "pushdown showcase: tight filter + single scalar agg; the three "
    "predicates reach the parquet scan (PushedFilters) and only 4 columns "
    "are read (ReadSchema)",
    """SELECT CAST(sum(l_extendedprice::DECIMAL(12,2) * l_discount::DECIMAL(4,2)) AS DOUBLE) AS revenue,
              count(*) AS n_lines
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate <  TIMESTAMP '1997-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""",
)
def q_q6(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec(F.col("l_extendedprice"), 12, 2) * _dec(F.col("l_discount"), 4, 2))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_spec(
    "q4_order_priority",
    "EXISTS semi-join: orders with at least one returned line, counted per "
    "priority (left_semi keeps the probe side un-duplicated — no distinct "
    "needed, one shuffle on the join key)",
    """SELECT o_orderpriority, count(*) AS n_orders
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate <  TIMESTAMP '1996-07-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
       GROUP BY o_orderpriority""",
)
def q_q4(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    returned = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(
            returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@_spec(
    "q10_returned_items",
    "returned-item revenue ranking: fact-fact join left to AQE, only the "
    "nation dim broadcast; deterministic top-20",
    """SELECT c_custkey, c_name, n_name,
              CAST(sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))) AS DOUBLE) AS revenue
       FROM customer
       JOIN orders   ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN nation   ON c_nationkey = n_nationkey
       WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate <  TIMESTAMP '1996-04-01'
         AND l_returnflag = 'R'
       GROUP BY c_custkey, c_name, n_name
       ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def q_q10(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = _dec(F.col("l_extendedprice"), 12, 2) * (
        F.lit(1) - _dec(F.col("l_discount"), 4, 2)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@_spec(
    "q14_promo_effect",
    "conditional aggregation over a broadcast dim join: promo revenue share "
    "for one ship month (both sums in one pass, no second scan)",
    """SELECT CAST(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))
                     ELSE 0 END) AS DOUBLE)
                 / CAST(sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))) AS DOUBLE)
              AS DOUBLE) AS promo_pct,
              count(*) AS n_lines
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '1996-09-01'
         AND l_shipdate <  TIMESTAMP '1996-10-01'""",
)
def q_q14(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    revenue = _dec(F.col("l_extendedprice"), 12, 2) * (
        F.lit(1) - _dec(F.col("l_discount"), 4, 2)
    )
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(
        F.lit(0).cast(T.DecimalType(18, 4))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(revenue).cast("double")
            ).cast("double").alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_spec(
    "q18_large_orders",
    "having-filter on a grouped fact, re-joined to orders + customer: the "
    "qty aggregation shuffles once on l_orderkey; the survivors (tiny) are "
    "what joins back — AQE sees the post-filter size at runtime",
    """SELECT c_custkey, c_name, o_orderkey, o_orderdate,
              CAST(o_totalprice AS DOUBLE) AS o_totalprice, qty_sum
       FROM (SELECT l_orderkey,
                    CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE) AS qty_sum
             FROM lineitem GROUP BY l_orderkey) big
       JOIN orders   ON o_orderkey = l_orderkey
       JOIN customer ON c_custkey = o_custkey
       WHERE qty_sum > 250
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
)
def q_q18(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec(F.col("l_quantity"), 12, 2)).cast("double").alias("qty_sum"))
        .filter(F.col("qty_sum") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "qty_sum",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@_spec(
    "events_funnel",
    "funnel conversion: first signup per user, any purchase within 7 days, "
    "weekly cohort conversion rate. Two aggregations + one semi-join, all "
    "hash-partitioned on user_id (each leg scans and shuffles the events "
    "fact exactly once; the cohort join moves only weekly aggregates)",
    """WITH s AS (SELECT user_id, min(ts) AS st FROM events
                  WHERE event_type = 'signup' GROUP BY user_id),
    conv AS (SELECT DISTINCT s.user_id, s.st FROM s
             JOIN events p ON p.user_id = s.user_id
                          AND p.event_type = 'purchase'
                          AND p.ts >= s.st
                          AND p.ts <= s.st + INTERVAL 7 DAY),
    base AS (SELECT CAST(date_trunc('week', st) AS TIMESTAMP) AS cohort_week,
                    count(*) AS n_signups FROM s GROUP BY 1),
    conv_w AS (SELECT CAST(date_trunc('week', st) AS TIMESTAMP) AS cohort_week,
                      count(*) AS n_converted FROM conv GROUP BY 1)
    SELECT b.cohort_week, b.n_signups,
           COALESCE(c.n_converted, 0) AS n_converted,
           CAST(COALESCE(c.n_converted, 0) AS DOUBLE) / b.n_signups AS conversion_rate
    FROM base b LEFT JOIN conv_w c ON b.cohort_week = c.cohort_week""",
)
def q_events_funnel(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("st"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    converted = signups.alias("s").join(
        purchases.alias("p"),
        (F.col("p.user_id") == F.col("s.user_id"))
        & (F.col("p.ts") >= F.col("s.st"))
        & (F.col("p.ts") <= F.col("s.st") + F.expr("INTERVAL 7 DAYS")),
        "left_semi",
    )
    week = lambda c: F.date_trunc("week", F.col(c)).cast("timestamp_ntz")  # noqa: E731
    base = signups.groupBy(week("st").alias("cohort_week")).agg(
        F.count(F.lit(1)).alias("n_signups")
    )
    conv_w = converted.groupBy(week("st").alias("cohort_week")).agg(
        F.count(F.lit(1)).alias("n_converted")
    )
    return (
        base.join(conv_w, "cohort_week", "left")
        .withColumn("n_converted", F.coalesce("n_converted", F.lit(0)))
        .withColumn(
            "conversion_rate",
            F.col("n_converted").cast("double") / F.col("n_signups").cast("double"),
        )
    )


@_spec(
    "events_retention_cohort",
    "cohort retention matrix: users bucketed by first-seen week, activity "
    "counted per (cohort, week-offset). Each leg scans/shuffles the events "
    "fact exactly once (min-agg on user_id; distinct on (user_id, week)); "
    "the user_id join then moves only the per-user aggregates, never raw "
    "events",
    """WITH f AS (SELECT user_id,
                         CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
                  FROM events GROUP BY user_id),
    a AS (SELECT DISTINCT user_id,
                 CAST(date_trunc('week', ts) AS TIMESTAMP) AS activity_week
          FROM events)
    SELECT f.cohort_week,
           date_diff('day', f.cohort_week, a.activity_week) // 7 AS week_offset,
           count(*) AS n_users
    FROM f JOIN a ON f.user_id = a.user_id
    GROUP BY 1, 2""",
)
def q_events_retention(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    week = lambda c: F.date_trunc("week", c).cast("timestamp_ntz")  # noqa: E731
    first = ev.groupBy("user_id").agg(week(F.min("ts")).alias("cohort_week"))
    active = ev.select(
        "user_id", week(F.col("ts")).alias("activity_week")
    ).distinct()
    return (
        first.join(active, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7
            ).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@_spec(
    "events_anomaly_zscore",
    "per-group z-score outlier detection: grouped moments from exact "
    "decimal sums (order-independent -> cross-engine deterministic; a "
    "naive double stddev would flake on partial-agg order), stats "
    "broadcast back onto the fact as a map-side join",
    """WITH m AS (
         SELECT event_type, count(*) AS n,
                CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) AS s1,
                CAST(sum(value::DECIMAL(18,2) * value::DECIMAL(18,2)) AS DOUBLE) AS s2
         FROM events GROUP BY event_type)
       SELECT event_id, e.event_type, value,
              (value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS z
       FROM events e JOIN m ON e.event_type = m.event_type
       WHERE n > 1 AND s2 - s1 * s1 / n > 0
         AND abs((value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))) > 3""",
)
def q_events_anomaly(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    vdec = _dec(F.col("value"), 18, 2)
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).cast("double").alias("s1"),
        F.sum(vdec * vdec).cast("double").alias("s2"),
    )
    # per-type stats are bounded by |event types| — broadcast is safe at
    # any fact scale, keeping the enrichment map-side
    mean = F.col("s1") / F.col("n")
    var_num = F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")
    std = F.sqrt(var_num / (F.col("n") - 1))
    z = (F.col("value") - mean) / std
    # degenerate groups (n=1 or zero variance) are excluded EXPLICITLY on
    # both sides: Spark's Divide yields NULL on /0 while DuckDB's IEEE
    # float path yields NaN/Inf (and DuckDB sorts NaN above any number),
    # so leaving the guard implicit is a data-dependent oracle mismatch
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter((F.col("n") > 1) & (var_num > 0))
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > 3)
    )


@_spec(
    "events_salted_join",
    "skew-mitigated equi-join: a hot key (80% of rows) spread over salt "
    "sub-partitions, the small side replicated per salt — result provably "
    "identical to the plain join (the oracle IS the plain join)",
    """WITH l AS (SELECT event_id,
                         CASE WHEN event_id % 10 < 8 THEN 0
                              ELSE CAST(event_id % 10 AS INT) END AS k,
                         value
                  FROM events),
    d AS (SELECT CAST(i AS INT) AS k, 'dim_' || i AS label FROM range(10) t(i))
    SELECT event_id, l.k, label FROM l JOIN d USING (k)""",
)
def q_events_salted_join(spark, sf_dir):
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.select(
        "event_id",
        F.when(F.pmod("event_id", F.lit(10)) < 8, 0)
        .otherwise(F.pmod("event_id", F.lit(10)))
        .cast("int")
        .alias("k"),
        "value",
    )
    right = spark.createDataFrame(
        [(i, f"dim_{i}") for i in range(10)], ["k", "label"]
    )
    return salted_join(left, right, ["k"]).select("event_id", "k", "label")


@_spec(
    "cdc_stats_current",
    "CURRENT-STATE incremental stats through updates AND deletes "
    "(functions/incremental.group_stats_cdc): the CDC before/after "
    "images fold as signed retract/assert deltas — an update retracts "
    "its before and asserts its after, a delete retracts the state "
    "being removed — so the standing (n, sum, sumsq) census equals a "
    "group-by over the LIVE table at every point, with zero reads of "
    "the target. The oracle computes the final live state directly; "
    "any broken retraction (stale rows, double counts, missed "
    "group-changing updates) hash-mismatches. Truncation telescopes: "
    "each image casts identically on its retract and assert sides",
    """WITH final AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS v
      FROM orders WHERE o_orderkey % 7 != 0)
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(vl) AS BIGINT) AS sum,
           CAST(sum(vl * vl) AS BIGINT) AS sumsq
    FROM (SELECT o_orderpriority, CAST(floor(v) AS BIGINT) AS vl
          FROM final) t
    GROUP BY 1""",
)
def q_cdc_stats_current(spark, sf_dir):
    from ..functions.incremental import group_stats_cdc, merge_group_stats_cdc
    from ..operators.normalize import route_parse_debezium

    orders = load_table(spark, sf_dir, "orders")
    topic = _fixture(
        spark, sf_dir, "debezium_before_topic", synth_debezium_before_topic
    )
    parsed = route_parse_debezium(
        topic, "salesdb", "orders", orders.schema, emit_before=True
    )
    delta = group_stats_cdc(parsed, ["o_orderpriority"], "o_totalprice")
    return merge_group_stats_cdc(None, delta, ["o_orderpriority"])


@_spec(
    "cdc_cms_current",
    "CURRENT-STATE Count-Min heavy hitters through updates AND deletes "
    "(functions/incremental.group_freq_sketch_cdc): CMS counters are "
    "sums and sums retract, so the before/after images fold as signed "
    "bucket deltas into a standing sketch that equals "
    "group_freq_sketch over the LIVE table, keeping the one-sided "
    "est >= live-count guarantee deletions break for an event-census "
    "sketch (batch-split invariance is property-tested; the shell e2e "
    "streams it in two real batches). Audited like "
    "events_topk_cms_audit: each group's exact top-3 customers of the "
    "FINAL live table vs the folded sketch's estimate — a missed "
    "retraction (deleted orders still counted) or a broken fold "
    "hash-mismatches. The extremal sketches (HLL max, KMV min) cannot "
    "retract and intentionally have no _cdc variant",
    """WITH final AS (SELECT o_orderpriority, o_custkey FROM orders
                      WHERE o_orderkey % 7 != 0),
    h AS (SELECT * FROM (VALUES (0, 1664525, 1013904223),
                                 (1, 1103515245, 12345),
                                 (2, 22695477, 1),
                                 (3, 214013, 2531011)) AS t(i, a, b)),
    r AS (SELECT o_orderpriority,
                 ((o_custkey % 2147483647) + 2147483647) % 2147483647 AS rr
          FROM final),
    cnt AS (SELECT o_orderpriority, h.i,
                   ((h.a * r.rr + h.b) % 2147483647) % 256 AS bucket,
                   count(*) AS n
            FROM r CROSS JOIN h GROUP BY 1, 2, 3),
    exact AS (SELECT o_orderpriority, o_custkey, count(*) AS exact_cnt
              FROM final GROUP BY 1, 2),
    top3 AS (SELECT o_orderpriority, o_custkey, exact_cnt,
                    row_number() OVER (PARTITION BY o_orderpriority
                                       ORDER BY exact_cnt DESC, o_custkey)
                      AS rnk
             FROM exact QUALIFY rnk <= 3),
    est AS (SELECT t.o_orderpriority, t.o_custkey, min(c.n) AS cms_est
            FROM top3 t CROSS JOIN h
            JOIN cnt c ON c.o_orderpriority = t.o_orderpriority
             AND c.i = h.i
             AND c.bucket = ((h.a * (((t.o_custkey % 2147483647)
                                      + 2147483647) % 2147483647) + h.b)
                             % 2147483647) % 256
            GROUP BY 1, 2)
    SELECT t.o_orderpriority, t.o_custkey, CAST(t.rnk AS INTEGER) AS rnk,
           CAST(t.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(e.cms_est AS BIGINT) AS cms_est,
           e.cms_est >= t.exact_cnt AS est_ge_exact
    FROM top3 t JOIN est e
      ON t.o_orderpriority = e.o_orderpriority
     AND t.o_custkey = e.o_custkey""",
)
def q_cdc_cms_current(spark, sf_dir):
    from ..functions.incremental import (
        estimate_freq,
        group_freq_sketch_cdc,
        merge_freq_sketches_cdc,
    )
    from ..operators.normalize import route_parse_debezium

    orders = load_table(spark, sf_dir, "orders")
    topic = _fixture(
        spark, sf_dir, "debezium_before_topic", synth_debezium_before_topic
    )
    # one signed delta over the whole topic, folded through the merge
    # (zero-drop) — the cdc_stats_current shape: the ORACLE cannot
    # distinguish batch splits (it computes the final state), and
    # split-invariance is pinned by the hypothesis property
    # (tests/test_properties.py) plus the real two-batch shell e2e
    # (tests/test_streaming.py), so the driver row keeps ONE parse pass
    parsed = route_parse_debezium(
        topic, "salesdb", "orders", orders.schema, emit_before=True
    )
    keys = ["o_orderpriority"]
    delta = group_freq_sketch_cdc(parsed, keys, "o_custkey")
    sk = merge_freq_sketches_cdc(None, delta, keys)
    live = orders.filter(F.col("o_orderkey") % 7 != 0)
    exact = live.groupBy("o_orderpriority", "o_custkey").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    top3 = exact.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("o_orderpriority").orderBy(
                F.col("exact_cnt").desc(), "o_custkey"
            )
        ),
    ).filter(F.col("rnk") <= 3)
    est = estimate_freq(sk, top3, keys, "o_custkey")
    return est.select(
        "o_orderpriority", "o_custkey", "rnk", "exact_cnt", "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).alias("est_ge_exact"),
    )


@_spec(
    "cdc_qsketch_current",
    "CURRENT-STATE quantile tracking through updates AND deletes "
    "(functions/incremental.group_quantile_sketch_cdc): the log-bucket "
    "histogram's counts retract like any sum, so the signed before/"
    "after fold keeps read-time quantile estimates "
    "(estimate_quantiles) pinned to the LIVE table — deletions shift "
    "quantiles, which an event-census sketch can never un-see. "
    "Audited on the rank guarantee like events_quantile_sketch_audit: "
    "each group's exact p50/p90 order statistic of the FINAL live "
    "table must fall inside the bucket the FOLDED sketch selects "
    "(sketch internals stay out of the hash — cross-engine log2 is "
    "not correctly rounded); a missed retraction moves the selected "
    "bucket and flips the flag",
    """WITH final AS (
      SELECT o_orderpriority, o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS v
      FROM orders WHERE o_orderkey % 7 != 0),
    n AS (SELECT o_orderpriority, count(*) AS tot FROM final GROUP BY 1),
    r AS (SELECT o_orderpriority, v,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY v, o_orderkey) AS rn
          FROM final),
    p AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS p)
    SELECT r.o_orderpriority, p.p, r.v AS exact_q,
           TRUE AS sketch_in_bucket
    FROM r JOIN n USING (o_orderpriority) CROSS JOIN p
    WHERE r.rn = greatest(CAST(ceil(p.p * n.tot) AS BIGINT), 1)""",
)
def q_cdc_qsketch_current(spark, sf_dir):
    from ..functions.incremental import (
        QSK_BITS_PER_OCTAVE,
        estimate_quantiles,
        group_quantile_sketch_cdc,
        merge_quantile_sketches_cdc,
    )
    from ..operators.normalize import route_parse_debezium

    orders = load_table(spark, sf_dir, "orders")
    topic = _fixture(
        spark, sf_dir, "debezium_before_topic", synth_debezium_before_topic
    )
    # one signed delta + merge fold, one parse pass (see
    # q_cdc_cms_current for why the driver row doesn't split batches)
    parsed = route_parse_debezium(
        topic, "salesdb", "orders", orders.schema, emit_before=True
    )
    keys = ["o_orderpriority"]
    delta = group_quantile_sketch_cdc(parsed, keys, "o_totalprice")
    sk = merge_quantile_sketches_cdc(None, delta, keys)
    probs = [0.5, 0.9]
    est = estimate_quantiles(sk, keys, probs)
    live = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderpriority", "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0,
               F.col("o_totalprice") * F.lit(1.1))
        .otherwise(F.col("o_totalprice")).alias("v"),
    )
    # exact order-statistic leg: o_orderpriority is 5-valued, so a plain
    # rank window funnels each priority's full census through one sort
    # task — range_partitioned_rank replays the window row-for-row with
    # every task bounded at ~n/P rows (same fix as the events audit)
    from kafka_cdc_redshift_spark.util import range_partitioned_rank

    ranked = range_partitioned_rank(
        live, ["o_orderpriority"], ["v", "o_orderkey"],
        rank_col="rn", n_col="tot",
    )
    pl = F.explode(F.array(*[F.lit(p) for p in probs])).alias("p")
    exact = (
        ranked.select("o_orderpriority", "v", "rn", "tot", pl)
        .filter(
            F.col("rn")
            == F.greatest(
                F.ceil(F.col("p") * F.col("tot")).cast("long"), F.lit(1)
            )
        )
        .select("o_orderpriority", "p", F.col("v").alias("exact_q"))
    )
    width = 2.0 ** (1.0 / QSK_BITS_PER_OCTAVE)
    v = F.col("exact_q").cast("double")
    lo, hi = F.col("est"), F.col("est") * F.lit(width)
    in_bucket = F.when(
        F.col("bucket") == 0, F.abs(v) < F.lit(1e-9)
    ).otherwise(
        F.when(
            F.col("bucket") > 0, (v >= lo * 0.999999) & (v <= hi * 1.000001)
        ).otherwise((v <= lo * 0.999999) & (v >= hi * 1.000001))
    )
    return (
        exact.join(est, ["o_orderpriority", "p"])
        .select(
            "o_orderpriority", "p", "exact_q",
            in_bucket.alias("sketch_in_bucket"),
        )
    )
