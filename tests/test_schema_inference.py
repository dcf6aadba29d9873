"""Dynamic per-batch payload-schema inference (S4 dynamic mode): syncing a
table with NO declared schema, like every reference config does
(cdc_util/redshift_sink.py:592; config/job-4x.properties sync_table_list)."""

import json

import pytest

from kafka_cdc_redshift_spark.config import SyncRule
from kafka_cdc_redshift_spark.sources.infer import infer_payload_schema
from kafka_cdc_redshift_spark.streaming import CdcBatchProcessor, ParquetTargetStore


def _dz(db, table, after, before=None, op="c", ts=1):
    return json.dumps(
        {"source": {"db": db, "table": table}, "op": op, "ts_ms": ts,
         "after": after, "before": before}
    )


def _topic(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "value string")


def test_infer_debezium_uses_before_image_for_deletes(spark):
    df = _topic(spark, [
        _dz("d", "t", {"pid": 1, "a": "x", "price": 1.5}),
        _dz("d", "t", None, before={"pid": 2, "a": "y", "price": 2.0}, op="d"),
        _dz("d", "other", {"zzz": 1}),
        "garbage not json",
    ])
    s = infer_payload_schema(df, "FLINK-CDC", "d", "t")
    assert s.simpleString() == "struct<a:string,pid:bigint,price:double>"


def test_infer_dms_drops_control_records(spark):
    df = _topic(spark, [
        json.dumps({"data": {"pid": 3, "b": True},
                    "metadata": {"schema-name": "d", "table-name": "t",
                                 "record-type": "data", "operation": "insert",
                                 "timestamp": "2024-01-01 00:00:00"}}),
        json.dumps({"metadata": {"schema-name": "d", "table-name": "t",
                                 "record-type": "control"}}),
    ])
    s = infer_payload_schema(df, "DMS-CDC", "d", "t")
    assert s.simpleString() == "struct<b:boolean,pid:bigint>"


def test_infer_canal_explodes_toplevel_array(spark):
    df = _topic(spark, [
        json.dumps({"data": [{"pid": 1, "x": "a"}, {"pid": 2, "x": "b", "extra": 9}],
                    "database": "d", "table": "t", "type": "INSERT", "ts": 5})
    ])
    s = infer_payload_schema(df, "CANAL-CDC", "d", "t")
    assert s.simpleString() == "struct<extra:bigint,pid:bigint,x:string>"


def test_infer_reads_only_rows_the_parser_keeps(spark):
    """Inference and the fused parse share the format's routed predicate:
    a payload column carried only by an op-filtered event (an unknown
    Debezium op, a Canal DDL type) stays out of the inferred schema."""
    from kafka_cdc_redshift_spark.operators import route_parse_debezium

    dz = _topic(spark, [
        _dz("d", "t", {"pid": 1}),
        _dz("d", "t", {"pid": 2, "ghost": "x"}, op="x"),
    ])
    s = infer_payload_schema(dz, "FLINK-CDC", "d", "t")
    assert s.simpleString() == "struct<pid:bigint>"
    assert [r.pid for r in route_parse_debezium(dz, "d", "t", s).collect()] == [1]

    canal = _topic(spark, [
        json.dumps({"data": [{"pid": 1}], "database": "d", "table": "t",
                    "type": "INSERT", "ts": 1}),
        json.dumps({"data": [{"pid": 2, "ghost": "x"}], "database": "d",
                    "table": "t", "type": "ALTER", "ts": 2}),
    ])
    s = infer_payload_schema(canal, "CANAL-CDC", "d", "t")
    assert s.simpleString() == "struct<pid:bigint>"


def test_infer_absent_table_and_garbage_return_none(spark):
    df = _topic(spark, [_dz("d", "t", {"pid": 1}), "junk"])
    assert infer_payload_schema(df, "FLINK-CDC", "d", "nope") is None
    assert infer_payload_schema(_topic(spark, ["junk"]), "FLINK-CDC", "d", "t") is None


def test_processor_without_declared_schemas_evolves_across_batches(spark, tmp_path):
    """The reference's zero-declaration sync: schema comes from the batch,
    drift (added/removed columns) flows into schema evolution."""
    store = ParquetTargetStore(str(tmp_path / "store"))
    rule = SyncRule(db="d", table="t", primary_key=("pid",))
    proc = CdcBatchProcessor(spark, [rule], store, max_workers=2)

    st = proc.process_batch(
        _topic(spark, [_dz("d", "t", {"pid": 1, "a": "x", "price": 1.5})]), 0
    )
    assert st[0].status == "finished"
    assert store.read(spark, "t").collect()[0].asDict() == {
        "a": "x", "pid": 1, "price": 1.5
    }

    # drift: `c2` appears, `price` disappears
    proc.process_batch(
        _topic(spark, [_dz("d", "t", {"pid": 2, "a": "y", "c2": 7}, ts=2)]), 1
    )
    out = store.read(spark, "t")
    assert set(out.columns) == {"pid", "a", "c2"}
    rows = {r.pid: r.asDict() for r in out.collect()}
    assert rows[1]["c2"] is None and rows[2]["c2"] == 7


def test_processor_no_rows_for_rule_is_no_data(spark, tmp_path):
    store = ParquetTargetStore(str(tmp_path / "store"))
    rule = SyncRule(db="d", table="absent", primary_key=("pid",))
    proc = CdcBatchProcessor(spark, [rule], store, max_workers=2)
    st = proc.process_batch(_topic(spark, [_dz("d", "t", {"pid": 1})]), 0)
    assert st[0].status == "no-data"


def test_infer_mongo_fulldocument(spark, sf_dir):
    """MONGO-CDC branch (reference mongo_redshift_sink.py:221): infer over
    fullDocument strings routed by ns.db/ns.coll; deletes (no fullDocument)
    contribute nothing; absent collection -> None."""
    from kafka_cdc_redshift_spark.sources.envelopes import synth_mongo_topic

    topic = synth_mongo_topic(spark, sf_dir)
    s = infer_payload_schema(topic, "MONGO-CDC", "appdb", "customer")
    assert s is not None
    assert set(s.names) == {"c_custkey", "c_name", "c_nationkey", "c_acctbal"}
    assert infer_payload_schema(topic, "MONGO-CDC", "appdb", "nope") is None
    # a list of collection names routes the same way as other formats
    s2 = infer_payload_schema(topic, "MONGO-CDC", "appdb", ["customer", "nope"])
    assert s2 is not None and set(s2.names) == set(s.names)
