"""Catalog (DSv2) MERGE sink: pure SQL-spelling tests, the live
no-row-level gate on a plain parquet table, and a Delta e2e that
self-enables via importorskip when the delta jars appear."""

import pytest
from pyspark.sql import Row

from kafka_cdc_redshift_spark.streaming.catalog_sink import (
    CatalogMergeSink,
    TransactionalTableUnavailable,
    merge_into_sql,
)


def test_merge_into_sql_spelling():
    sql = merge_into_sql(
        target="lake.orders", source="batch_v",
        columns=["pid", "pname", "op"], keys=["pid"],
    )
    assert sql.startswith(
        "MERGE INTO `lake`.`orders` AS t USING `batch_v` AS s "
        "ON t.`pid` = s.`pid`"
    )
    assert "WHEN MATCHED AND s.`op` = 'd' THEN DELETE" in sql
    assert "WHEN MATCHED THEN UPDATE SET t.`pname` = s.`pname`" in sql
    assert (
        "WHEN NOT MATCHED AND s.`op` <> 'd' THEN INSERT (`pid`, `pname`) "
        "VALUES (s.`pid`, s.`pname`)" in sql
    )
    # op never lands in the target (P5)
    assert "INSERT (`pid`, `pname`)" in sql and "`op`)" not in sql


def test_merge_into_sql_skip_delete():
    sql = merge_into_sql(
        target="t", source="s",
        columns=["pid", "pname", "op"], keys=["pid"], skip_delete=True,
    )
    assert "THEN DELETE" not in sql
    assert "WHEN NOT MATCHED THEN INSERT" in sql  # no op refinement


def test_catalog_sink_gate_on_non_transactional_table(spark):
    """A plain parquet catalog table has no row-level-operation support:
    bootstrap succeeds (provider-qualified empty CTAS), the MERGE raises
    the typed gate, and the staging temp view is dropped either way."""
    batch = spark.createDataFrame(
        [Row(pid=1, pname="a", op="c")], "pid long, pname string, op string"
    )
    sink = CatalogMergeSink(provider="parquet")
    table = "catalog_sink_gate_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        with pytest.raises(TransactionalTableUnavailable):
            sink.apply_batch(batch, table=table, keys=["pid"])
        assert spark.catalog.tableExists(table)  # bootstrap CTAS landed
        assert spark.read.table(table).count() == 0  # WHERE 1=3: empty
        views = [t.name for t in spark.catalog.listTables()
                 if t.tableType == "TEMPORARY"]
        assert not any(v.startswith("cdc_stage_") for v in views)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_catalog_sink_delta_end_to_end(spark, tmp_path):
    """Full upsert/delete cycle against a real Delta table — skips until
    the delta-spark package is installed, then runs unchanged."""
    pytest.importorskip("delta")
    batch1 = spark.createDataFrame(
        [Row(pid=1, pname="a", op="c"), Row(pid=2, pname="b", op="c")],
        "pid long, pname string, op string",
    )
    sink = CatalogMergeSink(provider="delta")
    table = "catalog_sink_delta_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        sink.apply_batch(batch1, table=table, keys=["pid"])
        batch2 = spark.createDataFrame(
            [Row(pid=1, pname="a2", op="u"), Row(pid=2, pname="b", op="d"),
             Row(pid=3, pname="c", op="c")],
            "pid long, pname string, op string",
        )
        sink.apply_batch(batch2, table=table, keys=["pid"])
        got = {r.pid: r.pname for r in spark.read.table(table).collect()}
        assert got == {1: "a2", 3: "c"}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_no_row_level_gate_regex_is_narrow():
    """The gate regex must catch the engines' MERGE/row-level-capability
    refusals but NOT generic 'does not support' engine errors (a type or
    expression the engine rejects at MERGE time is a real failure the
    user must see, not a TransactionalTableUnavailable)."""
    from kafka_cdc_redshift_spark.streaming.catalog_sink import _NO_ROW_LEVEL

    caught = [
        "MERGE INTO TABLE is not supported temporarily.",
        "[UNSUPPORTED_FEATURE.TABLE_OPERATION] Table `t` does not support "
        "MERGE INTO.",
        "Table spark_catalog.default.t does not support row-level "
        "operations",
        "org.example.t is not a Delta table.",
        "Cannot write: table does not support DELETE",
    ]
    passed_through = [
        "[DATATYPE_MISMATCH] data type mismatch: map<string,int> does not "
        "support ordering",
        "[UNSUPPORTED_FEATURE.LITERAL_TYPE] The feature is not supported",
        "Correlated scalar subqueries are not supported in UPDATE SET",
        "java.lang.ArithmeticException: long overflow",
    ]
    for msg in caught:
        assert _NO_ROW_LEVEL.search(msg), msg
    for msg in passed_through:
        assert not _NO_ROW_LEVEL.search(msg), msg


def test_catalog_sink_creates_configured_namespace(spark):
    """With catalog_target_namespace set but absent, bootstrap creates the
    namespace (CREATE NAMESPACE IF NOT EXISTS) instead of dying on a raw
    AnalysisException — the JDBC path's tolerant-DDL courtesy."""
    from pyspark.sql import Row

    batch = spark.createDataFrame(
        [Row(pid=1, pname="a", op="c")], "pid long, pname string, op string"
    )
    ns = "cdc_ns_autocreate"
    spark.sql(f"DROP NAMESPACE IF EXISTS {ns} CASCADE")
    sink = CatalogMergeSink(provider="parquet", namespace=ns)
    try:
        # parquet still refuses the MERGE itself (typed gate), but the
        # namespace and the bootstrap CTAS must both have landed first
        with pytest.raises(TransactionalTableUnavailable):
            sink.apply_batch(batch, table="tbl", keys=["pid"])
        assert spark.catalog.databaseExists(ns)
        assert spark.catalog.tableExists(f"{ns}.tbl")
    finally:
        spark.sql(f"DROP NAMESPACE IF EXISTS {ns} CASCADE")
