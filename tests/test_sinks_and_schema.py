"""Unit tests: JDBC merge SQL generation, schema evolution, config parsing,
type conversions."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_cdc_redshift_spark.config import parse_sync_rules, load_properties
from kafka_cdc_redshift_spark.operators.schema_evolution import (
    alter_table_ddl,
    cast_to_target,
    ddl_type,
    diff_schemas,
)
from kafka_cdc_redshift_spark.operators.typeconv import (
    convert_date_columns,
    convert_timestamp_columns,
    normalize_super_columns,
)
from kafka_cdc_redshift_spark.streaming.sinks import build_merge_sql, merge_condition


REDSHIFT_URL = "jdbc:redshift://h:5439/dev"
DERBY_URL = "jdbc:derby:memory:cdclive;create=true"


def _merge_sql(url=REDSHIFT_URL, **kw):
    args = dict(target="product", stage="st",
                columns=["pid", "pname", "op"], keys=["pid"])
    return build_merge_sql(url=url, **{**args, **kw})


def test_merge_sql_shape():
    """The one statement list: bootstrap CTAS, then one BEGIN/END holding
    the delete images, the merge and the stage cleanup; op never lands in
    the target (P5)."""
    stmts = _merge_sql()
    assert stmts[0].startswith("CREATE TABLE ")
    assert stmts[1] == "BEGIN" and stmts[-1] == "END"
    assert [s.split(" ", 1)[0] for s in stmts[2:-1]] == [
        "DELETE", "DELETE", "MERGE", "DELETE",
    ]
    merge = stmts[4]
    assert merge.startswith('MERGE INTO product USING st ON st."pid" = product."pid" ')
    assert 'INSERT ("pid", "pname") VALUES (st."pid", st."pname")' in merge
    assert '"op"' not in stmts[0]  # the bootstrap target has no op column


def test_merge_sql_delete_insert_dialect_shape():
    """The delete half of the reference's DELETE-then-INSERT shape, as the
    kept list spells it: a correlated-EXISTS delete of the delete images'
    keys (no DELETE ... USING, no ROW_NUMBER window), portable to Derby,
    whose bootstrap is the WITH NO DATA CTAS."""
    stmts = _merge_sql(stage="stage_table_db_product")
    joined = ";".join(stmts)
    assert stmts[2] == (
        "DELETE FROM product WHERE EXISTS "
        "(SELECT 1 FROM stage_table_db_product "
        'WHERE stage_table_db_product."pid" = product."pid" '
        'AND CAST(stage_table_db_product."op" AS VARCHAR(32)) = \'d\')'
    )
    assert "USING" not in stmts[2]
    assert "ROW_NUMBER" not in joined  # Derby-portable: no window
    derby = _merge_sql(DERBY_URL, stage="stage_table_db_product")
    assert derby[0].endswith(" WITH NO DATA")
    # skip_delete: no delete-image statement names the op at all
    skip = _merge_sql(stage="s", columns=["pid", "op"], skip_delete=True)
    assert "'d'" not in ";".join(skip)


def test_merge_sql_redshift_merge_restricted_shape():
    """Redshift's restricted MERGE: exactly ONE unrefined WHEN MATCHED and
    ONE unrefined WHEN NOT MATCHED clause, with delete images applied
    ahead of the merge (target delete via correlated EXISTS, then purged
    from the stage so the unrefined merge can't re-insert them)."""
    stmts = _merge_sql()
    merge = next(s for s in stmts if s.startswith("MERGE"))
    assert merge.count("WHEN MATCHED") == 1
    assert merge.count("WHEN NOT MATCHED") == 1
    # restricted shape: no refinement predicate on either clause
    assert "WHEN MATCHED AND" not in merge
    assert "WHEN NOT MATCHED AND" not in merge
    assert "DELETE" not in merge  # deletes never ride the merge
    assert 'UPDATE SET "pname" = st."pname"' in merge
    # delete images: target keys deleted, then images purged from stage,
    # BEFORE the merge (statement order matters)
    i_del_t = next(i for i, s in enumerate(stmts) if s.startswith("DELETE FROM product"))
    i_del_s = next(i for i, s in enumerate(stmts) if s.startswith("DELETE FROM st "))
    i_merge = stmts.index(merge)
    assert 1 < i_del_t < i_del_s < i_merge
    assert "EXISTS" in stmts[i_del_t]
    assert "= 'd'" in stmts[i_del_t] and "= 'd'" in stmts[i_del_s]


def test_merge_sql_redshift_merge_spellings():
    """The list's one engine-dependent statement is the bootstrap CTAS,
    chosen from the URL: Redshift gets `IF NOT EXISTS ... WHERE 1 = 3`
    (its CTAS has no WITH NO DATA), Derby `WITH NO DATA` (run_sql skips
    its already-exists error). The stage cleanup is a transactional
    `DELETE FROM stage` on both: TRUNCATE inside BEGIN/END implicitly
    COMMITS on Redshift, silently breaking the delete+merge atomicity."""
    stmts = _merge_sql()
    joined = ";".join(stmts)
    assert stmts[0] == (
        'CREATE TABLE IF NOT EXISTS product AS SELECT "pid", "pname" '
        "FROM st WHERE 1 = 3"
    )
    assert "WITH NO DATA" not in joined and "TRUNCATE" not in joined
    # cleanup DELETE FROM st sits INSIDE the transaction, after the merge
    i_merge = next(i for i, s in enumerate(stmts) if s.startswith("MERGE"))
    assert stmts[i_merge + 1:] == ["DELETE FROM st", "END"]
    derby = _merge_sql(DERBY_URL)
    assert derby[0] == (
        'CREATE TABLE product AS SELECT "pid", "pname" FROM st WITH NO DATA'
    )
    assert "1 = 3" not in ";".join(derby)
    assert derby[1:] == stmts[1:]


def test_merge_sql_skip_delete():
    """skip_delete: delete images upsert like any row — no delete-image
    statements (the stage-cleanup DELETE remains; it carries no op
    predicate). An all-key table still emits both required clauses via a
    no-op SET."""
    skip = _merge_sql(stage="s", columns=["pid", "op"], skip_delete=True)
    assert "'d'" not in ";".join(skip)
    assert skip[1:] == [
        "BEGIN",
        'MERGE INTO product USING s ON s."pid" = product."pid" '
        'WHEN MATCHED THEN UPDATE SET "pid" = s."pid" '
        'WHEN NOT MATCHED THEN INSERT ("pid") VALUES (s."pid")',
        "DELETE FROM s",
        "END",
    ]


def test_merge_condition_multi_key():
    on = merge_condition("s", "t", ["pid", "pname"])
    assert on == 's."pid" = t."pid" AND s."pname" = t."pname"'


def test_ddl_type_mapping():
    assert ddl_type(T.StructField("a", T.LongType())) == "BIGINT"
    assert ddl_type(T.StructField("a", T.StringType())) == "VARCHAR(65535)"
    assert ddl_type(
        T.StructField("a", T.StringType(), metadata={"super": True})
    ) == "SUPER"
    assert ddl_type(
        T.StructField("a", T.StringType(), metadata={"maxlength": 256})
    ) == "VARCHAR(256)"
    assert ddl_type(T.StructField("a", T.DecimalType(12, 3))) == "DECIMAL(12,3)"
    with pytest.raises(TypeError, match="not support"):
        ddl_type(T.StructField("a", T.ArrayType(T.LongType())))


def test_schema_diff_and_ddl():
    src = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    tgt = T.StructType([T.StructField("a", T.LongType()), T.StructField("c", T.IntegerType())])
    d = diff_schemas(src, tgt)
    assert d.add == ("b",) and d.drop == ("c",)
    ddl = alter_table_ddl("t", src, tgt)
    assert ddl == [
        'ALTER TABLE t ADD COLUMN "b" VARCHAR(65535)',
        'ALTER TABLE t DROP COLUMN "c"',
    ]


def test_sync_rule_parsing():
    raw = """[
      {"db": "d1", "table": "product", "primary_key": "pid,pname",
       "super_columns": "info", "timestamp_columns": "ct,mt|yyyy-MM-dd HH:mm:ss",
       "date_columns": "cd", "save_delete": "true", "target_table": "product_t"},
      {"db": "d1", "table": "sbtest.*", "primary_key": "id", "ignore_ddl": "true"}
    ]"""
    rules = parse_sync_rules(raw)
    r = rules[0]
    assert r.primary_key == ("pid", "pname")
    assert r.timestamp_columns == ("ct", "mt")
    assert r.timestamp_format == "yyyy-MM-dd HH:mm:ss"
    assert r.save_delete and r.target_name == "product_t"
    assert rules[1].matches("d1", "sbtest42") and not rules[1].matches("d2", "sbtest42")


def test_load_properties():
    props = load_properties("a = 1\n# comment\nb=x=y\n\n")
    assert props == {"a": "1", "b": "x=y"}


def test_typeconv_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "2024-03-05T10:00:00Z", 19000, '{"a":1}'), (2, None, 0, None)],
        ["id", "ct", "cd", "info"],
    )
    out = convert_timestamp_columns(df, ["ct"])
    out = convert_date_columns(out, ["cd"])
    out = normalize_super_columns(out, ["info"])
    rows = {r.id: r for r in out.collect()}
    assert str(rows[1].ct) == "2024-03-05 10:00:00"
    assert str(rows[1].cd) == "2022-01-08"  # 19000 days since epoch
    assert str(rows[2].cd) == "1970-01-01"
    assert rows[2].info == "{}"


def test_cast_to_target_digit_guard(spark):
    df = spark.createDataFrame([("12", "x"), ("oops", "y")], ["n", "s"])
    tgt = T.StructType([
        T.StructField("n", T.IntegerType()), T.StructField("s", T.StringType()),
    ])
    rows = cast_to_target(df, tgt).collect()
    got = {r.s: r.n for r in rows}
    assert got == {"x": 12, "y": None}


def test_approx_distinct_error_bound(spark, sf_dir):
    """The HLL sketch has no cross-engine oracle (sketches differ), so the
    catalog query folds the error bound INTO its output: assert the raw
    sketch error directly here, and that the query's own
    `approx_within_bounds` flag (what the driver oracle checks) agrees."""
    from pyspark.sql import functions as F

    from kafka_cdc_redshift_spark.plans import SPECS
    from kafka_cdc_redshift_spark.sources import load_table

    rows = SPECS["events_approx_distinct"].spark(spark, sf_dir).collect()
    got = {r.event_type: r for r in rows}
    approx = {r.event_type: r.approx
              for r in load_table(spark, sf_dir, "events")
              .groupBy("event_type")
              .agg(F.approx_count_distinct("user_id", 0.02).alias("approx"))
              .collect()}
    exact = {r.event_type: r.exact
             for r in load_table(spark, sf_dir, "events")
             .groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact")).collect()}
    assert got.keys() == exact.keys() == approx.keys()
    for k in exact:
        assert got[k].n_users_exact == exact[k]
        assert abs(approx[k] - exact[k]) <= max(3, 0.05 * exact[k]), (
            k, approx[k], exact[k])
        assert got[k].approx_within_bounds is True


def test_catalog_type_normalization_reference_strings():
    """The reference's documented pg_table_def strings
    (redshift_schema_evolution.py:106-129) round-trip to Spark types."""
    from kafka_cdc_redshift_spark.operators.schema_evolution import (
        catalog_query,
        catalog_to_struct,
        catalog_type_to_spark,
    )

    cases = {
        "timestamp without time zone": T.TimestampType(),
        "timestamp with time zone": T.TimestampType(),
        "character varying(256)": T.StringType(),
        "character(8)": T.StringType(),
        "boolean": T.BooleanType(),
        "date": T.DateType(),
        "double precision": T.DoubleType(),
        "numeric(10,2)": T.DecimalType(10, 2),
        "real": T.FloatType(),
        "integer": T.IntegerType(),
        "bigint": T.LongType(),
        "smallint": T.ShortType(),
        "super": T.StringType(),
        "geometry": T.StringType(),  # unknown -> uncast string passthrough
    }
    for s, expected in cases.items():
        assert catalog_type_to_spark(s) == expected, s

    st = catalog_to_struct(
        [("name", "character varying(64)"), ("doc", "super"),
         ("price", "numeric(12,2)")]
    )
    assert st["name"].metadata == {"maxlength": 64}
    assert st["doc"].metadata == {"super": True}
    # metadata round-trips through ddl_type (ALTER generation)
    assert ddl_type(st["name"]) == "VARCHAR(64)"
    assert ddl_type(st["doc"]) == "SUPER"
    assert ddl_type(st["price"]) == "DECIMAL(12,2)"
    assert "pg_table_def" in catalog_query("t", "public")


def test_live_catalog_feeds_cast_to_target(spark):
    """End-to-end ignore_ddl against a "live" catalog: catalog rows ->
    StructType -> defensive cast of the incoming batch."""
    from kafka_cdc_redshift_spark.operators.schema_evolution import catalog_to_struct

    target = catalog_to_struct(
        [("pid", "bigint"), ("qty", "smallint"), ("price", "numeric(10,2)")]
    )
    df = spark.createDataFrame(
        [("1", "7", "3.5"), ("2", "oops", "9.25")],
        "pid string, qty string, price string",
    )
    rows = {r.pid: r for r in cast_to_target(df, target).collect()}
    assert rows[1].qty == 7 and float(rows[1].price) == 3.5
    assert rows[2].qty is None  # digit guard: non-numeric -> NULL, not error


def test_profile_table_hostile_column_names(spark):
    """profile_table is built from Column objects (no SQL-string
    interpolation), so names with quotes, backticks, dots, and spaces
    profile like any other column."""
    from kafka_cdc_redshift_spark.functions.profiling import profile_table

    hostile = ["it's", "back`tick", "dot.ted", "sp ace"]
    schema = T.StructType([
        T.StructField(hostile[0], T.LongType()),
        T.StructField(hostile[1], T.StringType()),
        T.StructField(hostile[2], T.StringType()),
        T.StructField(hostile[3], T.DoubleType()),
    ])
    df = spark.createDataFrame(
        [(1, "a", None, 2.0), (2, "a", None, 3.0), (None, "b", None, 3.0)],
        schema,
    )
    got = {r.column: (r.n_rows, r.n_null, r.n_distinct)
           for r in profile_table(df).collect()}
    assert got == {
        "it's": (3, 1, 2),
        "back`tick": (3, 0, 2),
        "dot.ted": (3, 3, 0),
        "sp ace": (3, 0, 2),
    }


def test_bulk_stage_csv_roundtrip_nasty_corpus(spark, tmp_path):
    """The shared staged-CSV format (both bulk transports) must
    round-trip the values that break naive CSV staging: embedded
    quotes/commas/newlines/tabs/backslashes, unicode, SQL NULL vs empty
    string, non-finite doubles (writer emits Infinity/-Infinity; the
    reader tokens are pinned to match), and microsecond timestamps."""
    import datetime
    import math

    from pyspark.sql import Row

    from kafka_cdc_redshift_spark.streaming.sinks import (
        BulkLoadOptions,
        bulk_stage_csv_options,
    )

    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
    rows = [
        Row(id=1, s="plain", v=1.5, ts=ts),
        Row(id=2, s='q"uo,te', v=None, ts=None),
        Row(id=3, s="line\nbreak\r\nand\ttab", v=float("inf"), ts=ts),
        Row(id=4, s="", v=float("-inf"), ts=ts),
        Row(id=5, s=None, v=float("nan"), ts=ts),
        Row(id=6, s="unicodé 你好 back\\slash", v=-0.0, ts=ts),
    ]
    schema = "id long, s string, v double, ts timestamp_ntz"
    df = spark.createDataFrame(rows, schema)
    opts = bulk_stage_csv_options(
        BulkLoadOptions(tempdir=str(tmp_path), tempformat="CSV GZIP")
    )
    path = str(tmp_path / "stage")
    df.write.options(**opts).mode("overwrite").csv(path)
    back = {
        r.id: r
        for r in spark.read.schema(schema).options(**opts).csv(path).collect()
    }
    assert len(back) == len(rows)
    for want in rows:
        got = back[want.id]
        assert got.s == want.s, (want.id, got.s, want.s)
        if want.v is None:
            assert got.v is None
        elif math.isnan(want.v):
            assert math.isnan(got.v)
        else:
            assert got.v == want.v, (want.id, got.v, want.v)
        assert got.ts == want.ts, (want.id, got.ts, want.ts)


def test_bulk_stage_csv_options_rejects_non_csv_tempformat():
    """The fs staging twin is CSV-only; a JSON-configured job must get a
    loud refusal, not silently-staged CSV (the connector path honors
    JSON natively)."""
    import pytest

    from kafka_cdc_redshift_spark.streaming.sinks import (
        BulkLoadOptions,
        bulk_stage_csv_options,
    )

    for ok in ("CSV", "csv", "CSV GZIP"):
        bulk_stage_csv_options(BulkLoadOptions(tempdir="/tmp/x", tempformat=ok))
    with pytest.raises(ValueError, match="tempformat"):
        bulk_stage_csv_options(
            BulkLoadOptions(tempdir="/tmp/x", tempformat="JSON")
        )
