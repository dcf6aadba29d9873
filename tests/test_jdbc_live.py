"""LIVE execution of the staged JDBC merge against embedded Derby (the
Derby jars ship inside PySpark, so this runs in any Spark install with no
extra deps). This is the integration the string-shape tests can't give:
`df.write.jdbc` stages the batch for real, `run_sql` drives the
bootstrap CTAS + delete-images + restricted MERGE + stage-cleanup
transaction through java.sql.DriverManager, and the target reads back via
`spark.read.jdbc`.

Covers: target bootstrap (CTAS), insert/update/delete merge semantics
(reference parity: cdc_util/redshift_sink.py:477-509), replay
idempotency, skip_delete mode, stage cleanup, the standard MERGE
cardinality guard on a non-deduped stage, and transaction rollback on
mid-list failure.

The statement list executed here is the one a Redshift target receives:
the restricted MERGE is valid SQL:2008, and only the bootstrap CTAS is
spelled differently for Derby (pinned in test_entrypoint).
"""

import pytest
from pyspark.sql import Row

from kafka_cdc_redshift_spark.streaming.sinks import (
    JdbcMergeSink,
    JdbcUnavailable,
    stage_table_name,
)

DERBY_URL = "jdbc:derby:memory:cdclive;create=true"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _sink(spark, **kw):
    s = JdbcMergeSink(
        DERBY_URL, user="app", password="app", driver=DERBY_DRIVER, **kw,
    )
    try:
        s.run_sql(spark, ["VALUES 1"])
    except JdbcUnavailable as e:  # pragma: no cover - driver ships w/ pyspark
        pytest.skip(f"embedded Derby unavailable: {e}")
    return s


def _batch(spark, rows):
    return spark.createDataFrame(
        [Row(pid=p, pname=n, op=o) for p, n, o in rows],
        "pid long, pname string, op string",
    )


def _read_target(spark, sink, table):
    return {
        r.pid: r.pname
        for r in spark.read.jdbc(sink.url, table, properties=sink._props()).collect()
    }


@pytest.fixture(scope="module")
def sink(spark):
    return _sink(spark)


# The case ids are the names of the three statement lists these tests ran
# before the sink kept one: each case now sends that one list, to a target
# table of its own, and must reach the outcome every former list reached.
FORMER_SPELLINGS = ["ansi_merge", "delete_insert", "redshift_merge"]


@pytest.mark.parametrize("spelling", FORMER_SPELLINGS)
def test_live_merge_bootstrap_upsert_delete(spark, sink, spelling):
    tbl = f"product_{spelling}"
    # batch 1: pure inserts -> bootstrap CTAS + insert path
    sink.apply_batch(
        _batch(spark, [(1, "a", "c"), (2, "b", "c")]),
        db="d", table=tbl, keys=["pid"],
    )
    assert _read_target(spark, sink, tbl) == {1: "a", 2: "b"}

    # batch 2: update + delete + fresh insert, one transaction (the
    # delete image carries its last value, as CDC before-images do)
    sink.apply_batch(
        _batch(spark, [(1, "a2", "u"), (2, "b", "d"), (3, "c", "c")]),
        db="d", table=tbl, keys=["pid"],
    )
    assert _read_target(spark, sink, tbl) == {1: "a2", 3: "c"}

    # the staging table was emptied inside the same transaction (D8)
    stage = stage_table_name("d", tbl)
    assert spark.read.jdbc(sink.url, stage, properties=sink._props()).count() == 0

    # replaying the SAME batch is a no-op on the target (merge idempotency
    # against a live engine, not just the in-engine operator)
    sink.apply_batch(
        _batch(spark, [(1, "a2", "u"), (2, "b", "d"), (3, "c", "c")]),
        db="d", table=tbl, keys=["pid"],
    )
    assert _read_target(spark, sink, tbl) == {1: "a2", 3: "c"}


def test_live_merge_null_image(spark, sink):
    """NULL-valued payloads stage and merge on the default (CLOB) string
    mapping: an update to NULL lands, a delete image with a NULL payload
    still deletes."""
    sink.apply_batch(
        _batch(spark, [(1, "a", "c"), (2, "b", "c")]),
        db="d", table="nullimg", keys=["pid"],
    )
    sink.apply_batch(
        _batch(spark, [(1, None, "u"), (2, None, "d")]),
        db="d", table="nullimg", keys=["pid"],
    )
    assert _read_target(spark, sink, "nullimg") == {1: None}


@pytest.mark.parametrize("spelling", FORMER_SPELLINGS)
def test_live_merge_skip_delete(spark, sink, spelling):
    tbl = f"keepdel_{spelling}"
    sink.apply_batch(
        _batch(spark, [(1, "a", "c")]), db="d", table=tbl,
        keys=["pid"], skip_delete=True,
    )
    # skip_delete: the delete image UPSERTS instead of deleting
    sink.apply_batch(
        _batch(spark, [(1, "tomb", "d"), (2, "b", "d")]),
        db="d", table=tbl, keys=["pid"], skip_delete=True,
    )
    assert _read_target(spark, sink, tbl) == {1: "tomb", 2: "b"}


def test_live_merge_duplicate_stage_trips_cardinality_guard(spark, sink):
    """The merge expects a key-deduped stage (the pipeline lww_dedups
    before staging); a duplicate key must surface the engine's standard
    MERGE cardinality error, not silently pick a row."""
    sink.apply_batch(
        _batch(spark, [(9, "x", "c")]), db="d", table="dupguard", keys=["pid"]
    )
    with pytest.raises(Exception, match="(?i)more than one|multiple|cardinality"):
        sink.apply_batch(
            _batch(spark, [(9, "y1", "u"), (9, "y2", "u")]),
            db="d", table="dupguard", keys=["pid"],
        )
    # the failed transaction rolled back: target unchanged
    assert _read_target(spark, sink, "dupguard") == {9: "x"}


def test_live_transaction_rolls_back_on_failure(spark, sink):
    sink.run_sql(spark, ['CREATE TABLE txprobe ("k" BIGINT)'])
    with pytest.raises(Exception):
        sink.run_sql(
            spark,
            [
                "BEGIN",
                "INSERT INTO txprobe VALUES (1)",
                "SELECT * FROM definitely_missing_table",
            ],
        )
    # the INSERT inside the aborted transaction must not persist
    n = spark.read.jdbc(sink.url, "txprobe", properties=sink._props()).count()
    assert n == 0


def test_live_stream_to_derby_end_to_end(spark, sf_dir, tmp_path, sink):
    """The whole reference pipeline against a LIVE JDBC target: file-backed
    micro-batches -> route/parse -> lww_dedup -> staged MERGE INTO Derby,
    plus the save_delete append channel — then the warehouse table is read
    back and compared against the in-engine LWW model of the changelog."""
    from pyspark.sql import functions as F

    from kafka_cdc_redshift_spark.config import SyncRule
    from kafka_cdc_redshift_spark.operators.dedup import lww_dedup
    from kafka_cdc_redshift_spark.sources import load_table
    from kafka_cdc_redshift_spark.sources.envelopes import (
        synth_debezium_topic,
        synth_orders_changelog,
    )
    from kafka_cdc_redshift_spark.streaming import (
        CdcBatchProcessor,
        ParquetTargetStore,
        run_file_stream,
    )

    rules = [
        SyncRule(db="salesdb", table="orders", primary_key=("o_orderkey",),
                 save_delete=True)
    ]
    proc = CdcBatchProcessor(
        spark, rules, ParquetTargetStore(str(tmp_path / "store")),
        payload_schemas={"orders": load_table(spark, sf_dir, "orders").schema},
        jdbc_sink=sink,
    )
    src = tmp_path / "topic"
    src.mkdir()
    topic = synth_debezium_topic(spark, sf_dir, include_customer=False)
    # split per-key-time-ordered: inserts first, then updates + deletes
    with open(src / "b1.json", "w") as f:
        f.write("\n".join(
            r.value for r in topic.filter(F.col("value").contains('"op":"c"')).collect()
        ) + "\n")
    with open(src / "b2.json", "w") as f:
        f.write("\n".join(
            r.value
            for r in topic.filter(F.col("value").contains('"op":"u"')
                                  | F.col("value").contains('"op":"d"')).collect()
        ) + "\n")
    q = run_file_stream(spark, str(src), proc, str(tmp_path / "ckpt"),
                        max_files_per_trigger=1)
    q.awaitTermination(180)

    # expected latest state: LWW over the full changelog, deletes removed
    cl = synth_orders_changelog(spark, sf_dir)
    latest = lww_dedup(cl, ["o_orderkey"], ["ts_ms"])
    want = {
        r.o_orderkey: round(r.o_totalprice, 2)
        for r in latest.filter("op != 'd'").collect()
    }
    got = {
        r.o_orderkey: round(r.o_totalprice, 2)
        for r in spark.read.jdbc(sink.url, "orders",
                                 properties=sink._props()).collect()
    }
    assert got == want

    # the delete channel landed the last delete image per key (W5)
    want_dels = {r.o_orderkey for r in cl.filter("op = 'd'").collect()}
    got_dels = {
        r.o_orderkey
        for r in spark.read.jdbc(sink.url, "orders_delete",
                                 properties=sink._props()).collect()
    }
    assert got_dels == want_dels and want_dels


def test_live_catalog_probe_roundtrip(spark, sink):
    """ignore_ddl mode against a live target: probe the real catalog via
    JDBC DatabaseMetaData, build the StructType, and cast an incoming
    batch to it — the reference's pg_table_def channel
    (redshift_schema_evolution.py:97-135) made engine-agnostic."""
    from pyspark.sql import types as T

    from kafka_cdc_redshift_spark.operators.schema_evolution import (
        cast_to_target,
        catalog_to_struct,
    )

    sink.run_sql(
        spark,
        ['CREATE TABLE catprobe ("cid" BIGINT, "cname" VARCHAR(32), '
         '"score" DOUBLE, "amt" DECIMAL(10,2))'],
    )
    rows = sink.fetch_catalog_columns(spark, "catprobe")
    struct = catalog_to_struct(rows)
    got = {f.name: f.dataType for f in struct.fields}
    assert got == {
        "cid": T.LongType(),
        "cname": T.StringType(),
        "score": T.DoubleType(),
        "amt": T.DecimalType(10, 2),
    }
    assert struct["cname"].metadata.get("maxlength") == 32

    # incoming batch with string-typed numerics + an extra column casts
    # to the live catalog types; the extra column is dropped
    batch = spark.createDataFrame(
        [("7", "x", "1.5", "9.25", "extra")],
        "cid string, cname string, score string, amt string, ghost string",
    )
    out = cast_to_target(batch, struct)
    r = out.collect()[0]
    assert (r.cid, r.cname, float(r.score), str(r.amt)) == (7, "x", 1.5, "9.25")
    assert "ghost" not in out.columns


def test_live_retry_drops_poisoned_stage(spark, sink):
    """The reference's error path (redshift_sink.py:528-547): a staging
    table left half-written/mismatched by a previous failure poisons the
    next batch's stage append; apply_batch must drop it and retry once.
    Exercised live: pre-create the stage with a CONFLICTING schema so the
    first df.write.jdbc append fails, then assert the retry converged."""
    from kafka_cdc_redshift_spark.streaming.sinks import stage_table_name

    stage = stage_table_name("d", "retrytgt")
    # poisoned leftover: same name, incompatible column set/types
    sink.run_sql(spark, [f'CREATE TABLE {stage} ("wrong" VARCHAR(4))'])
    sink.apply_batch(
        _batch(spark, [(1, "a", "c"), (2, "b", "c")]),
        db="d", table="retrytgt", keys=["pid"],
    )
    assert _read_target(spark, sink, "retrytgt") == {1: "a", 2: "b"}


def test_live_bulk_fs_staged_copy_twin(spark, tmp_path):
    """The filesystem twin of the S3+COPY bulk path, end-to-end on live
    Derby: the batch stages as the shared COPY-shaped CSV (gzip, RFC
    4180 quote-doubling, explicit NULL token), the STAGED BYTES load
    into the stage table, and the merge postactions run as one
    transaction. Covers the format-fidelity hazards a unit test of the
    option dict can't: embedded commas/quotes/newlines, SQL NULL vs
    empty string, and second-batch upsert+delete through the same
    staged transport. Staging dirs must be cleaned up after each
    apply."""
    from kafka_cdc_redshift_spark.streaming.sinks import BulkLoadOptions

    s = _sink(
        spark,
        bulk=BulkLoadOptions(tempdir=str(tmp_path), tempformat="CSV GZIP"),
    )

    def batch(rows):
        return spark.createDataFrame(
            [Row(pid=p, pname=n, v=v, op=o) for p, n, v, o in rows],
            "pid long, pname string, v double, op string",
        )

    table = "bulkfs_target"
    s.apply_batch(
        batch([
            (1, "plain", 1.5, "c"),
            (2, 'comma, and "quotes"', None, "c"),   # NULL double
            (3, "line1\nline2", 3.25, "c"),          # embedded newline
            (4, "", 4.0, "c"),                       # empty string != NULL
        ]),
        db="db", table=table, keys=["pid"],
    )
    got = {
        r.pid: (r.pname, r.v)
        for r in spark.read.jdbc(
            s.url, table, properties=s._props()
        ).collect()
    }
    assert got == {
        1: ("plain", 1.5),
        2: ('comma, and "quotes"', None),
        3: ("line1\nline2", 3.25),
        4: ("", 4.0),
    }
    # second batch through the same staged transport: update 2, delete 3
    s.apply_batch(
        batch([(2, "updated", 2.0, "u"), (3, "gone", 0.0, "d")]),
        db="db", table=table, keys=["pid"],
    )
    got = {
        r.pid: (r.pname, r.v)
        for r in spark.read.jdbc(
            s.url, table, properties=s._props()
        ).collect()
    }
    assert got == {
        1: ("plain", 1.5),
        2: ("updated", 2.0),
        4: ("", 4.0),
    }
    # every staging dir was rmtree'd after its apply
    assert list(tmp_path.iterdir()) == []


def test_bulk_transport_dispatch():
    """Object-store prefixes take the connector path; filesystem prefixes
    (plain or file://) take the twin."""
    from kafka_cdc_redshift_spark.streaming.sinks import is_object_store_path

    assert is_object_store_path("s3://bucket/tmp/")
    assert is_object_store_path("s3a://bucket/tmp/")
    assert is_object_store_path("gs://bucket/tmp/")
    assert not is_object_store_path("/mnt/staging/cdc")
    assert not is_object_store_path("file:///mnt/staging/cdc")


def test_live_bulk_fs_retry_drops_poisoned_stage(spark, tmp_path):
    """The fs-staged bulk transport inherits the JDBC path's crash-window
    contract (redshift_sink.py:528-547): a stage table left behind by a
    previous failure poisons the staged load; the twin must drop it and
    retry once from the staged files."""
    from kafka_cdc_redshift_spark.streaming.sinks import (
        BulkLoadOptions,
        stage_table_name,
    )

    s = _sink(spark, bulk=BulkLoadOptions(tempdir=str(tmp_path)))
    stage = stage_table_name("d", "bulkfs_retrytgt")
    s.run_sql(spark, [f'CREATE TABLE {stage} ("wrong" VARCHAR(4))'])
    s.apply_batch(
        _batch(spark, [(1, "a", "c"), (2, "b", "c")]),
        db="d", table="bulkfs_retrytgt", keys=["pid"],
    )
    assert _read_target(spark, s, "bulkfs_retrytgt") == {1: "a", 2: "b"}
    assert list(tmp_path.iterdir()) == []  # staging dir cleaned either way
