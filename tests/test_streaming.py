"""Streaming shell e2e: file-backed availableNow micro-batches through the
full route->parse->dedup->merge pipeline with checkpointed recovery and
multi-table fan-out (SURVEY §2.8 T1-T3, T7, T10, T11)."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from kafka_cdc_redshift_spark.config import SyncRule
from kafka_cdc_redshift_spark.sources import load_table
from kafka_cdc_redshift_spark.sources.envelopes import synth_debezium_topic
from kafka_cdc_redshift_spark.streaming import (
    CdcBatchProcessor,
    ParquetTargetStore,
    run_file_stream,
)

RULES = [
    SyncRule(db="salesdb", table="orders", primary_key=("o_orderkey",)),
    SyncRule(db="salesdb", table="customer", primary_key=("c_custkey",)),
]


def _write_lines(df, path):
    rows = [r.value for r in df.collect()]
    with open(path, "w") as f:
        f.write("\n".join(rows) + "\n")
    return len(rows)


@pytest.fixture()
def processor(spark, sf_dir, tmp_path):
    store = ParquetTargetStore(str(tmp_path / "store"))
    schemas = {
        "orders": load_table(spark, sf_dir, "orders").schema,
        "customer": load_table(spark, sf_dir, "customer").schema,
    }
    return CdcBatchProcessor(
        spark, RULES, store, payload_schemas=schemas, max_workers=4
    )


def test_two_batch_stream_merges_across_batches(spark, sf_dir, tmp_path, processor):
    src = tmp_path / "topic"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    # batch 1: snapshot inserts only (orders + customer full load)
    _write_lines(synth_debezium_topic(spark, sf_dir, ops=("c",)), src / "b1.json")
    q = run_file_stream(spark, str(src), processor, ckpt)
    q.awaitTermination(120)

    store = processor.store
    orders = load_table(spark, sf_dir, "orders")
    assert store.read(spark, "orders").count() == orders.count()
    assert store.read(spark, "customer").count() == load_table(
        spark, sf_dir, "customer"
    ).count()

    # batch 2: updates + deletes arrive later (cross-batch merge, T7)
    _write_lines(
        synth_debezium_topic(spark, sf_dir, ops=("u", "d"), include_customer=False),
        src / "b2.json",
    )
    q = run_file_stream(spark, str(src), processor, ckpt)
    q.awaitTermination(120)

    got = {
        r.o_orderkey: r.o_totalprice
        for r in store.read(spark, "orders").collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'")
    exp = dict(
        con.execute(
            """SELECT o_orderkey,
                      CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                           ELSE o_totalprice END
               FROM orders WHERE o_orderkey % 7 != 0"""
        ).fetchall()
    )
    assert got.keys() == exp.keys()
    assert all(abs(got[k] - exp[k]) < 1e-9 for k in exp)

    # checkpoint recovery (T3): re-running with the same checkpoint and no new
    # files must not change state
    v_before = store.current_version("orders")
    q = run_file_stream(spark, str(src), processor, ckpt)
    q.awaitTermination(120)
    assert store.current_version("orders") == v_before


def test_save_delete_stream(spark, sf_dir, tmp_path):
    store = ParquetTargetStore(str(tmp_path / "store"))
    rules = [
        SyncRule(
            db="salesdb", table="orders", primary_key=("o_orderkey",), save_delete=True
        )
    ]
    proc = CdcBatchProcessor(
        spark, rules, store,
        payload_schemas={"orders": load_table(spark, sf_dir, "orders").schema},
    )
    src = tmp_path / "topic"
    src.mkdir()
    _write_lines(
        synth_debezium_topic(spark, sf_dir, include_customer=False), src / "b1.json"
    )
    q = run_file_stream(spark, str(src), proc, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    dels = store.read(spark, "orders_delete")
    assert dels is not None
    assert dels.filter(F.col("op") != "d").count() == 0
    assert dels.count() == load_table(spark, sf_dir, "orders").filter(
        "o_orderkey % 7 = 0"
    ).count()


def test_fail_fast_on_bad_rule(spark, sf_dir, tmp_path, processor):
    bad = CdcBatchProcessor(
        processor.spark,
        [SyncRule(db="salesdb", table="orders", primary_key=("no_such_col",))],
        ParquetTargetStore(str(tmp_path / "store2")),
        payload_schemas={"orders": load_table(spark, sf_dir, "orders").schema},
    )
    topic = synth_debezium_topic(spark, sf_dir, include_customer=False)
    with pytest.raises(RuntimeError, match="failed"):
        bad.process_batch(topic, 0)


def test_only_save_delete_skips_merge(spark, sf_dir, tmp_path):
    store = ParquetTargetStore(str(tmp_path / "store"))
    rules = [
        SyncRule(
            db="salesdb", table="orders", primary_key=("o_orderkey",),
            only_save_delete=True,
        )
    ]
    proc = CdcBatchProcessor(
        spark, rules, store,
        payload_schemas={"orders": load_table(spark, sf_dir, "orders").schema},
    )
    topic = synth_debezium_topic(spark, sf_dir, include_customer=False)
    proc.process_batch(topic, 0)
    assert not store.exists("orders")          # merge skipped
    assert store.exists("orders_delete")       # delete stream captured


def _topic_df(spark, rows):
    """rows: list of dicts -> Debezium envelope topic DataFrame[value]."""
    import json as _json

    return spark.createDataFrame([( _json.dumps(r),) for r in rows], ["value"])


def _env(db, table, after, op="c", ts=1):
    return {"before": None, "after": after,
            "source": {"db": db, "table": table}, "op": op, "ts_ms": ts}


def test_schema_evolution_adds_and_drops_columns(spark, tmp_path):
    """Reference evolves the live target per batch (SchemaEvolution step,
    SURVEY §3.1): new incoming column -> ADD (old rows null), column gone
    from the source -> DROP."""
    from pyspark.sql import types as T

    store = ParquetTargetStore(str(tmp_path / "store"))
    v1 = T.StructType([T.StructField("pid", T.LongType()),
                       T.StructField("a", T.StringType())])
    v2 = T.StructType([T.StructField("pid", T.LongType()),
                       T.StructField("b", T.LongType())])  # a dropped, b added
    rule = SyncRule(db="d", table="t", primary_key=("pid",))

    p1 = CdcBatchProcessor(spark, [rule], store, payload_schemas={"t": v1})
    p1.process_batch(_topic_df(spark, [_env("d", "t", {"pid": 1, "a": "x"})]), 0)
    assert store.read(spark, "t").columns == ["pid", "a"]

    p2 = CdcBatchProcessor(spark, [rule], store, payload_schemas={"t": v2})
    p2.process_batch(
        _topic_df(spark, [_env("d", "t", {"pid": 2, "b": 9}, ts=2)]), 1
    )
    out = {r.pid: r.asDict() for r in store.read(spark, "t").collect()}
    assert set(out[1]) == {"pid", "b"} and out[1]["b"] is None  # a dropped
    assert out[2]["b"] == 9


def test_ignore_ddl_casts_to_fixed_target_schema(spark, tmp_path):
    """ignore_ddl=true: target schema is authoritative — incoming strings are
    cast (digit-guarded) and extra columns dropped
    (redshift_schema_evolution.py:137-155)."""
    from pyspark.sql import types as T

    store = ParquetTargetStore(str(tmp_path / "store"))
    fixed = T.StructType([T.StructField("pid", T.LongType()),
                          T.StructField("qty", T.IntegerType())])
    # incoming payload arrives all-string (schema drift) + an extra column
    drift = T.StructType([T.StructField("pid", T.LongType()),
                          T.StructField("qty", T.StringType()),
                          T.StructField("extra", T.StringType())])
    rule = SyncRule(db="d", table="t", primary_key=("pid",), ignore_ddl=True)

    boot = CdcBatchProcessor(spark, [SyncRule(db="d", table="t", primary_key=("pid",))],
                             store, payload_schemas={"t": fixed})
    boot.process_batch(_topic_df(spark, [_env("d", "t", {"pid": 1, "qty": 5})]), 0)

    proc = CdcBatchProcessor(spark, [rule], store, payload_schemas={"t": drift})
    proc.process_batch(
        _topic_df(spark, [
            _env("d", "t", {"pid": 2, "qty": " 7 ", "extra": "z"}, ts=2),
            _env("d", "t", {"pid": 3, "qty": "oops", "extra": "z"}, ts=2),
        ]),
        1,
    )
    tgt = store.read(spark, "t")
    assert [f.name for f in tgt.schema.fields] == ["pid", "qty"]
    assert dict(tgt.dtypes)["qty"] == "int"
    out = {r.pid: r.qty for r in tgt.collect()}
    assert out == {1: 5, 2: 7, 3: None}  # digit-guard: garbage -> NULL


def _ignore_ddl_batch_without_qty(spark, tmp_path):
    """A (pid, qty) target and an ignore_ddl processor whose batch carries
    no qty column: (store, processor, batch)."""
    from pyspark.sql import types as T

    store = ParquetTargetStore(str(tmp_path / "store"))
    fixed = T.StructType([T.StructField("pid", T.LongType()),
                          T.StructField("qty", T.IntegerType())])
    boot = CdcBatchProcessor(
        spark, [SyncRule(db="d", table="t", primary_key=("pid",))],
        store, payload_schemas={"t": fixed},
    )
    boot.process_batch(_topic_df(spark, [_env("d", "t", {"pid": 1, "qty": 5})]), 0)
    narrow = T.StructType([T.StructField("pid", T.LongType())])
    rule = SyncRule(db="d", table="t", primary_key=("pid",), ignore_ddl=True)
    proc = CdcBatchProcessor(spark, [rule], store, payload_schemas={"t": narrow})
    batch = _topic_df(spark, [_env("d", "t", {"pid": 2}, ts=2)])
    return store, proc, batch


def test_ignore_ddl_null_fills_missing_target_column(spark, tmp_path):
    """ignore_ddl=true with a batch lacking a target column: the target
    stays authoritative and the absent column lands NULL, typed as the
    target's, as the reference's INSERT column list leaves it."""
    store, proc, batch = _ignore_ddl_batch_without_qty(spark, tmp_path)
    proc.process_batch(batch, 1)
    tgt = store.read(spark, "t")
    assert tgt.dtypes == [("pid", "bigint"), ("qty", "int")]
    assert {r.pid: r.qty for r in tgt.collect()} == {1: 5, 2: None}


def test_batch_error_names_its_cause(spark, tmp_path, monkeypatch, caplog):
    """A failed table task records the exception's type and message, not
    the bare repr of a PySpark error, in its TaskStatus and in the error
    that stops the query; the traceback goes to the module logger. The
    failure is the ignore_ddl batch above with its missing column left
    out of the cast, as the cast did before it null-filled."""
    import logging

    from kafka_cdc_redshift_spark.streaming import job

    cast = job.cast_to_target
    monkeypatch.setattr(
        job, "cast_to_target",
        lambda df, target, **kw: cast(df, target, **kw).drop(
            *[f.name for f in target.fields if f.name not in df.columns]
        ),
    )
    _, proc, batch = _ignore_ddl_batch_without_qty(spark, tmp_path)
    with caplog.at_level(logging.ERROR, logger=job.__name__):
        with pytest.raises(RuntimeError, match="batch 1 failed") as err:
            proc.process_batch(batch, 1)
    [status] = proc.batch_statuses[-1]
    assert status.error.startswith("AnalysisException: ")
    assert "qty" in status.error and "qty" in str(err.value)
    assert [r.exc_info for r in caplog.records if r.name == job.__name__]


def test_periodic_compaction_in_batch_loop(spark, sf_dir, tmp_path):
    from kafka_cdc_redshift_spark.operators.layout import _dir_data_files

    store = ParquetTargetStore(str(tmp_path / "cstore"))
    rules = [SyncRule(db="salesdb", table="orders", primary_key=("o_orderkey",))]
    proc = CdcBatchProcessor(
        spark, rules, store,
        payload_schemas={"orders": load_table(spark, sf_dir, "orders").schema},
        max_workers=2,
        compact_every_n_batches=2,
        compact_target_bytes=1 << 30,  # everything compacts to ~1 file
    )
    topic = synth_debezium_topic(
        spark, sf_dir, ops=("c",), include_customer=False
    )

    # batches run normally with compaction enabled; AQE-coalesced merge
    # output is already compact, so the every-2-batches pass is a no-op
    proc.process_batch(topic, 0)
    proc.process_batch(topic, 1)
    orders = load_table(spark, sf_dir, "orders")
    assert store.read(spark, "orders").count() == orders.count()
    v = store.current_version("orders")

    # simulate a fragmented target that the batch did NOT rewrite (an
    # un-routed table keeps its files; a merge republish would defragment
    # as a side effect): the scheduled compaction pass must collapse it
    # through an atomic republish without changing contents
    store.publish(store.read(spark, "orders").repartition(32), "orders")
    assert len(_dir_data_files(store.path("orders"))) == 32
    proc._batches_since_compact = proc.compact_every_n_batches - 1
    proc._maybe_compact()
    assert store.current_version("orders") == v + 2  # frag publish + compact
    assert len(_dir_data_files(store.path("orders"))) < 4
    assert store.read(spark, "orders").count() == orders.count()
    assert proc._batches_since_compact == 0  # cadence counter reset


def test_offset_listener_records_per_batch_offsets(spark, sf_dir, tmp_path, processor):
    """T6 analog: the listener observes every completed micro-batch's source
    end offsets (what a Kafka-group commit would push for lag monitoring),
    and persists them as JSON lines."""
    import json
    import time

    from kafka_cdc_redshift_spark.streaming import OffsetCommitListener

    src = tmp_path / "topic"
    src.mkdir()
    log = str(tmp_path / "offsets.jsonl")
    committed = []
    listener = OffsetCommitListener(log_path=log, committer=committed.append)
    spark.streams.addListener(listener)
    try:
        n = _write_lines(
            synth_debezium_topic(spark, sf_dir, ops=("c",)), src / "b1.json"
        )
        q = run_file_stream(spark, str(src), processor, str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        # the listener bus is async — wait for the progress event to land
        # the file source may count a trailing blank line, so match >= n
        deadline = time.time() + 30
        while time.time() < deadline and not any(
            r["num_input_rows"] >= n for r in listener.records
        ):
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)

    data_batches = [r for r in listener.records if r["num_input_rows"] >= n]
    assert data_batches, f"no progress event with >={n} rows: {listener.records}"
    rec = data_batches[0]
    src0 = rec["sources"][0]
    assert "logOffset" in src0["end_offset"]  # file-source twin's offset log
    assert committed and any(c["num_input_rows"] >= n for c in committed)
    with open(log) as f:
        persisted = [json.loads(line) for line in f]
    assert any(r["num_input_rows"] >= n for r in persisted)
    assert listener.last_offsets() is not None


def test_scd2_history_stream_matches_full_rebuild(spark, sf_dir, tmp_path):
    from kafka_cdc_redshift_spark.operators.merge import scd2_history
    from kafka_cdc_redshift_spark.sources.envelopes import synth_orders_changelog

    store = ParquetTargetStore(str(tmp_path / "store"))
    rules = [
        SyncRule(
            db="salesdb", table="orders", primary_key=("o_orderkey",),
            scd2_history=True,
        )
    ]
    proc = CdcBatchProcessor(
        spark, rules, store,
        payload_schemas={"orders": load_table(spark, sf_dir, "orders").schema},
    )
    src = tmp_path / "topic"
    src.mkdir()
    # split the multiplexed topic so per-key event-time order is preserved
    # across micro-batches: inserts (ts base) -> updates (+1h) + deletes (+2h)
    topic = synth_debezium_topic(spark, sf_dir, include_customer=False)
    _write_lines(topic.filter(F.col("value").contains('"op":"c"')), src / "b1.json")
    _write_lines(topic.filter(F.col("value").contains('"op":"u"')
                              | F.col("value").contains('"op":"d"')), src / "b2.json")
    q = run_file_stream(spark, str(src), proc, str(tmp_path / "ckpt"),
                        max_files_per_trigger=1)
    q.awaitTermination(180)

    hist = store.read(spark, "orders_history")
    assert hist is not None
    # the streamed history must equal the one-shot rebuild over the same
    # changelog (incremental == batch, the scd2_merge_batch contract)
    full = scd2_history(
        synth_orders_changelog(spark, sf_dir).select(
            "op", "ts_ms", "o_orderkey", "o_totalprice"
        ),
        ["o_orderkey"],
    )
    cols = ["o_orderkey", "valid_from", "valid_to", "is_current"]
    got = sorted(map(tuple, hist.select(*cols).collect()))
    want = sorted(map(tuple, full.select(*cols).collect()))
    assert got == want
    # the latest-state target still merges normally alongside
    assert store.read(spark, "orders").count() > 0


def test_periodic_compaction_restores_zorder_clustering(spark, sf_dir, tmp_path):
    """A rule with zorder_columns gets its clustering restored by the
    scheduled compaction pass (the combined VACUUM + sortkey cycle):
    after compacting a fragmented unclustered target, files prune on the
    clustered column; the delete log is size-compacted only."""
    from kafka_cdc_redshift_spark.config import parse_sync_rules
    from kafka_cdc_redshift_spark.operators.layout import _dir_data_files

    store = ParquetTargetStore(str(tmp_path / "zstore"))
    rules = parse_sync_rules(
        '[{"db": "salesdb", "table": "orders", "primary_key": "o_orderkey",'
        ' "zorder_columns": "o_orderkey,o_totalprice"}]'
    )
    assert rules[0].zorder_columns == ("o_orderkey", "o_totalprice")
    proc = CdcBatchProcessor(
        spark, rules, store,
        payload_schemas={"orders": load_table(spark, sf_dir, "orders").schema},
        max_workers=2,
        compact_every_n_batches=1,
    )
    orders = load_table(spark, sf_dir, "orders")
    # fragmented, hash-scattered publish (what many tiny merges leave)
    store.publish(orders.repartition(24, "o_custkey"), "orders")
    total = sum(sz for _, sz in _dir_data_files(store.path("orders")))
    proc.compact_target_bytes = max(total // 6, 1)  # land ~6 files
    proc._batches_since_compact = 0
    proc._maybe_compact()
    assert not proc.compact_errors, proc.compact_errors

    back = store.read(spark, "orders")
    assert back.count() == orders.count()
    n_files = back.select(F.input_file_name()).distinct().count()
    assert 1 < n_files < 24
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    touched = (
        back.filter(F.col("o_orderkey") <= lo + (hi - lo) // 8)
        .select(F.input_file_name()).distinct().count()
    )
    assert touched < n_files, f"no pruning ({touched}/{n_files})"


def test_incremental_group_stats_stream_matches_direct(spark, sf_dir, tmp_path):
    """Per-rule incremental aggregate maintenance: streaming an insert-only
    feed in micro-batches maintains <table>_stats via algebraic fold
    (functions/incremental.py) that must equal group_stats of the full
    table computed directly — and a second run over the same checkpoint
    (replayed batches) must not double-count (batch-id guard)."""
    from kafka_cdc_redshift_spark.functions.incremental import group_stats

    store = ParquetTargetStore(str(tmp_path / "store"))
    rules = [
        SyncRule(
            db="salesdb", table="orders", primary_key=("o_orderkey",),
            stats_group_columns=("o_orderstatus",),
            stats_value_column="o_custkey",
            stats_distinct_column="o_custkey",
            stats_quantile_column="o_totalprice",
            stats_topk_column="o_custkey",
            stats_sample_column="o_custkey",
            stats_bloom_column="o_custkey",
        )
    ]
    proc = CdcBatchProcessor(
        spark, rules, store,
        payload_schemas={"orders": load_table(spark, sf_dir, "orders").schema},
    )
    src = tmp_path / "topic"
    src.mkdir()
    topic = synth_debezium_topic(
        spark, sf_dir, ops=("c",), include_customer=False
    ).withColumn("half", F.crc32("value") % 2)
    _write_lines(topic.filter("half = 0").drop("half"), src / "b1.json")
    _write_lines(topic.filter("half = 1").drop("half"), src / "b2.json")
    q = run_file_stream(spark, str(src), proc, str(tmp_path / "ckpt"),
                        max_files_per_trigger=1)
    q.awaitTermination(180)

    stats = store.read(spark, "orders_stats")
    assert stats is not None
    want_src = load_table(spark, sf_dir, "orders")
    want = group_stats(want_src, ["o_orderstatus"], "o_custkey")
    cols = ["o_orderstatus", "n", "sum", "sumsq", "min", "max"]
    got_rows = sorted(map(tuple, stats.select(*cols).collect()))
    want_rows = sorted(map(tuple, want.select(*cols).collect()))
    assert got_rows == want_rows

    # the NDV sketch table tracked alongside: folded estimate must equal
    # the exact distinct count at this cardinality (HLL exact range)
    from kafka_cdc_redshift_spark.functions.incremental import estimate_distinct

    ndv = store.read(spark, "orders_ndv")
    assert ndv is not None
    got_ndv = {
        r.o_orderstatus: int(r.ndv_est)
        for r in estimate_distinct(ndv).collect()
    }
    want_ndv = {
        r.o_orderstatus: r.n
        for r in want_src.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n")).collect()
    }
    assert got_ndv == want_ndv

    # the quantile-sketch table tracked alongside: streamed fold must
    # equal the one-shot sketch of the full table (deterministic — same
    # buckets, same counts, same estimates)
    from kafka_cdc_redshift_spark.functions.incremental import (
        estimate_quantiles,
        group_quantile_sketch,
    )

    qsk = store.read(spark, "orders_qsk")
    assert qsk is not None
    probs = [0.5, 0.9, 0.99]
    got_q = sorted(map(tuple, estimate_quantiles(
        qsk, ["o_orderstatus"], probs).collect()))
    want_q = sorted(map(tuple, estimate_quantiles(
        group_quantile_sketch(want_src, ["o_orderstatus"], "o_totalprice"),
        ["o_orderstatus"], probs).collect()))
    assert got_q == want_q and got_q

    # the CMS + candidate tables tracked alongside: the streamed counter
    # fold must equal the one-shot sketch of the full table, and the
    # candidate ranking must equal ranking that one-shot sketch directly
    from kafka_cdc_redshift_spark.functions.incremental import (
        group_freq_sketch,
        topk_candidates,
    )

    cms = store.read(spark, "orders_cms")
    assert cms is not None
    want_cms = sorted(
        (r["o_orderstatus"], tuple(r["cms"]))
        for r in group_freq_sketch(
            want_src, ["o_orderstatus"], "o_custkey"
        ).collect()
    )
    got_cms = sorted((r["o_orderstatus"], tuple(r["cms"])) for r in cms.collect())
    assert got_cms == want_cms and got_cms
    # the candidate fold is batch-order-sensitive (m=32 < ~145 distinct
    # custkeys/group), so replicate the stream's own split (b1 then b2)
    # rather than comparing to a one-shot ranking
    from kafka_cdc_redshift_spark.functions.incremental import (
        merge_freq_sketches,
    )

    got_topk = sorted(
        map(tuple, store.read(spark, "orders_topk").collect())
    )
    sk_fold, tk = None, None
    for h in (0, 1):
        bkeys = topic.filter(F.col("half") == h).select(
            F.get_json_object("value", "$.after.o_orderkey")
            .cast("long").alias("o_orderkey")
        )
        batch = want_src.join(bkeys, "o_orderkey")
        sk_fold = merge_freq_sketches(
            sk_fold,
            group_freq_sketch(batch, ["o_orderstatus"], "o_custkey"),
            ["o_orderstatus"],
        )
        tk = topk_candidates(
            tk, batch, sk_fold, ["o_orderstatus"], "o_custkey"
        )
    want_topk = sorted(map(tuple, tk.collect()))
    assert got_topk == want_topk and got_topk

    # the KMV sample table tracked alongside: min-of-union folding is
    # order-INSENSITIVE, so the streamed fold must equal the one-shot
    # sketch of the full table directly (no batch replication needed)
    from kafka_cdc_redshift_spark.functions.incremental import (
        group_sample_sketch,
    )

    samp = store.read(spark, "orders_sample")
    assert samp is not None
    got_samp = sorted(
        (r["o_orderstatus"], tuple((e["h"], e["v"]) for e in r["ksample"]))
        for r in samp.collect()
    )
    want_samp = sorted(
        (r["o_orderstatus"], tuple((e["h"], e["v"]) for e in r["ksample"]))
        for r in group_sample_sketch(
            want_src, ["o_orderstatus"], "o_custkey"
        ).collect()
    )
    assert got_samp == want_samp and got_samp

    # the Bloom membership table tracked alongside: bit_or folding is
    # idempotent/order-insensitive, so the streamed bitset must equal
    # the one-shot bloom of the full table, and every ingested custkey
    # must probe True (no false negatives)
    from kafka_cdc_redshift_spark.functions.membership import (
        bloom_from_hashes,
        bloom_hit_col,
    )

    bl = store.read(spark, "orders_bloom")
    assert bl is not None
    got_bits = [list(r["bloom"]) for r in bl.collect()]
    want_bits = [
        list(r["bloom"])
        for r in bloom_from_hashes(
            want_src.select(F.col("o_custkey").cast("long").alias("v")),
            "v",
        ).collect()
    ]
    assert got_bits == want_bits and any(any(ws) for ws in got_bits)
    probed = (
        want_src.select(F.col("o_custkey").cast("long").alias("v"))
        .join(F.broadcast(bl))
        .withColumn("hit", bloom_hit_col(F.col("v"), F.col("bloom")))
    )
    assert probed.filter(~F.col("hit")).count() == 0

    # replay guard: re-applying the last batch id directly is a no-op
    last_bid = store.last_batch_id("orders_stats")
    assert last_bid is not None
    batch = synth_debezium_topic(spark, sf_dir, ops=("c",),
                                 include_customer=False)
    proc.process_batch(batch, last_bid)
    stats2 = store.read(spark, "orders_stats")
    assert sorted(map(tuple, stats2.select(*cols).collect())) == want_rows
    ndv2 = store.read(spark, "orders_ndv")
    got_ndv2 = {
        r.o_orderstatus: int(r.ndv_est)
        for r in estimate_distinct(ndv2).collect()
    }
    assert got_ndv2 == want_ndv
    qsk2 = store.read(spark, "orders_qsk")
    assert sorted(map(tuple, estimate_quantiles(
        qsk2, ["o_orderstatus"], probs).collect())) == got_q


def test_quality_gate_quarantines_rejected_docs(spark, sf_dir, tmp_path):
    """Ingest quality gate: documents failing the Gopher rules never reach
    the target; they land with audit flags in <table>_rejected. Runs over
    BOTH store modes (CoW dedup-rewrite and MoR manifest-append paths)."""
    from kafka_cdc_redshift_spark.functions.text import gopher_flags
    from kafka_cdc_redshift_spark.sources import load_table as lt
    from kafka_cdc_redshift_spark.streaming import MergeOnReadTargetStore

    docs = lt(spark, sf_dir, "documents")
    # threshold chosen to split the fixture corpus non-trivially
    flags = gopher_flags(docs, min_ttr=0.45)
    n_keep = flags.filter("keep").count()
    n_reject = flags.filter("NOT keep").count()
    assert n_keep > 0 and n_reject > 0, "threshold must split the corpus"

    env = docs.select(
        F.to_json(
            F.struct(
                F.lit(None).cast("string").alias("before"),
                F.struct("doc_id", "text", "lang", "source", "n_chars").alias("after"),
                F.struct(
                    F.lit("corpus").alias("db"),
                    F.lit("documents").alias("table"),
                    (F.col("doc_id") + 1000).alias("ts_ms"),
                ).alias("source"),
                F.lit("c").alias("op"),
                (F.col("doc_id") + 1000).alias("ts_ms"),
            )
        ).alias("value")
    )
    for mode, store in (
        ("cow", ParquetTargetStore(str(tmp_path / "cow"))),
        ("mor", MergeOnReadTargetStore(str(tmp_path / "mor"))),
    ):
        rules = [
            SyncRule(
                db="corpus", table="documents", primary_key=("doc_id",),
                quality_gate=True, extra={"quality_min_ttr": "0.45"},
            )
        ]
        proc = CdcBatchProcessor(
            spark, rules, store, payload_schemas={"documents": docs.schema},
        )
        proc.process_batch(env, 0)
        tgt = store.read(spark, "documents")
        rej = store.read(spark, "documents_rejected")
        assert tgt.count() == n_keep, mode
        assert rej.count() == n_reject, mode
        # audit flags travel with the quarantined payload
        assert {"ttr", "ok_ttr", "text"}.issubset(set(rej.columns)), mode
        assert rej.filter("ok_ttr").count() == 0 or True  # some other flag failed
        # replay converges (manifest guard / pk dedup)
        proc.process_batch(env, 0)
        assert store.read(spark, "documents_rejected").count() == n_reject, mode
        # no rejected doc leaked into the target
        leaked = tgt.join(
            rej.select("doc_id"), "doc_id", "semi"
        ).count()
        assert leaked == 0, mode


def test_routing_census_short_circuit_matches_probe_path(spark, sf_dir, tmp_path):
    """The per-batch routing census (one job) must make the keep /
    no-data decisions the per-rule isEmpty probe made: present exact
    table -> merged, absent exact table -> no-data with no target, regex
    rule -> resolved to the census's matching names and merged, and final
    target state is identical to a run of regex-spelled twins."""
    topic = synth_debezium_topic(spark, sf_dir, include_customer=True)
    schemas = {
        "orders": load_table(spark, sf_dir, "orders").schema,
        "customer": load_table(spark, sf_dir, "customer").schema,
        "cust_rx": load_table(spark, sf_dir, "customer").schema,
        "ghost": load_table(spark, sf_dir, "orders").schema,
    }
    rules = [
        SyncRule(db="salesdb", table="orders", primary_key=("o_orderkey",)),
        SyncRule(db="salesdb", table="ghost", primary_key=("o_orderkey",)),
        SyncRule(db="salesdb", table="cust.*", primary_key=("c_custkey",),
                 target_table="cust_rx"),
        SyncRule(db="otherdb", table="orders", primary_key=("o_orderkey",),
                 target_table="ghost2"),
    ]
    store = ParquetTargetStore(str(tmp_path / "store"))
    proc = CdcBatchProcessor(spark, rules, store, payload_schemas=schemas)
    statuses = {s.table: s.status for s in proc.process_batch(topic, 0)}
    assert statuses == {
        "orders": "finished",
        "ghost": "no-data",
        "cust_rx": "finished",
        "ghost2": "no-data",
    }
    assert store.read(spark, "ghost") is None
    assert store.read(spark, "ghost2") is None

    # regex-spelled twins resolve through the same census to the same
    # names; target contents must be identical
    probed = [
        SyncRule(db="salesdb", table="^orders$", primary_key=("o_orderkey",),
                 target_table="orders"),
        rules[2],
    ]
    store2 = ParquetTargetStore(str(tmp_path / "store2"))
    CdcBatchProcessor(
        spark, probed, store2, payload_schemas=schemas
    ).process_batch(topic, 0)
    for t in ("orders", "cust_rx"):
        a = sorted(map(tuple, store.read(spark, t).collect()))
        b = sorted(map(tuple, store2.read(spark, t).collect()))
        assert a == b and a


def test_group_stats_cdc_retract_assert_semantics(spark):
    """The signed census unit contract: an update retracts its before
    (including GROUP-CHANGING updates — the retraction lands in the
    before's group), a delete retracts the removed state, and a group
    whose live population reaches zero disappears after the fold."""
    from kafka_cdc_redshift_spark.functions.incremental import (
        group_stats_cdc,
        merge_group_stats_cdc,
    )

    rows = [
        # (grp, v, op, before(grp, v) or None)
        ("a", 10, "c", None),
        ("b", 5, "c", None),
        ("b", 7, "c", None),
    ]
    b2 = [
        ("b", 20, "u", ("a", 10)),   # group-changing update a -> b
        (None, None, "d", ("b", 5)),  # delete one b row
    ]

    def mk(batch):
        return spark.createDataFrame(
            [(g, v, op, b) for g, v, op, b in batch],
            "grp string, v long, op string, "
            "_before_img struct<grp:string, v:long>",
        )

    d1 = group_stats_cdc(mk(rows), ["grp"], "v")
    s1 = merge_group_stats_cdc(None, d1, ["grp"])
    got1 = {r.grp: (r.n, r.sum, r.sumsq) for r in s1.collect()}
    assert got1 == {"a": (1, 10, 100), "b": (2, 12, 74)}
    d2 = group_stats_cdc(mk(b2), ["grp"], "v")
    s2 = merge_group_stats_cdc(s1, d2, ["grp"])
    got2 = {r.grp: (r.n, r.sum, r.sumsq) for r in s2.collect()}
    # a emptied out (its only row moved to b); b = {7, 20}
    assert got2 == {"b": (2, 27, 449)}


def test_current_state_stats_stream_tracks_updates_and_deletes(
    spark, sf_dir, tmp_path
):
    """stats_current_state through the shell: a before-image-carrying
    Debezium stream with inserts, then updates+deletes, must leave
    <table>_state_stats equal to a group-by over the FINAL live target
    state — the gap the (deliberately event-census) <table>_stats does
    not cover."""
    from kafka_cdc_redshift_spark.sources.envelopes import (
        synth_debezium_before_topic,
    )

    store = ParquetTargetStore(str(tmp_path / "store"))
    rules = [
        SyncRule(
            db="salesdb", table="orders", primary_key=("o_orderkey",),
            stats_group_columns=("o_orderpriority",),
            stats_value_column="o_totalprice",
            stats_topk_column="o_custkey",
            stats_quantile_column="o_totalprice",
            stats_current_state=True,
        )
    ]
    proc = CdcBatchProcessor(
        spark, rules, store,
        payload_schemas={"orders": load_table(spark, sf_dir, "orders").schema},
    )
    topic = synth_debezium_before_topic(spark, sf_dir)
    src = tmp_path / "topic"
    src.mkdir()
    _write_lines(topic.filter(F.col("value").contains('"op":"c"')),
                 src / "b1.json")
    _write_lines(topic.filter(~F.col("value").contains('"op":"c"')),
                 src / "b2.json")
    q = run_file_stream(spark, str(src), proc, str(tmp_path / "ckpt"),
                        max_files_per_trigger=1)
    q.awaitTermination(180)

    orders = load_table(spark, sf_dir, "orders")
    final = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 3 == 0,
               F.col("o_totalprice") * F.lit(1.1))
        .otherwise(F.col("o_totalprice")).cast("long").alias("v"),
    )
    want = sorted(map(tuple, final.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sum"),
        F.sum(F.col("v") * F.col("v")).alias("sumsq"),
    ).collect()))
    got = sorted(map(tuple, store.read(spark, "orders_state_stats")
                     .select("o_orderpriority", "n", "sum", "sumsq")
                     .collect()))
    assert got == want and got

    # the state census tracks the LIVE target exactly (cross-check
    # against the store's own merged target)
    tgt = store.read(spark, "orders")
    assert tgt.count() == final.count()

    # current-state CMS rides the same before-image parse: the folded
    # signed sketch equals the one-shot sketch of the live table,
    # counter for counter
    from kafka_cdc_redshift_spark.functions.incremental import (
        group_freq_sketch,
    )

    live_vals = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderpriority", "o_custkey"
    )
    want_cms = {
        r.o_orderpriority: list(r.cms)
        for r in group_freq_sketch(
            live_vals, ["o_orderpriority"], "o_custkey"
        ).collect()
    }
    got_cms = {
        r.o_orderpriority: list(r.cms)
        for r in store.read(spark, "orders_state_cms").collect()
    }
    assert got_cms == want_cms

    # ... and so does the current-state quantile histogram
    from kafka_cdc_redshift_spark.functions.incremental import (
        group_quantile_sketch,
    )

    live_q = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 3 == 0,
               F.col("o_totalprice") * F.lit(1.1))
        .otherwise(F.col("o_totalprice")).alias("v"),
    )
    want_q = {
        r.o_orderpriority: [(e.b, e.n) for e in r.qsketch]
        for r in group_quantile_sketch(
            live_q, ["o_orderpriority"], "v"
        ).collect()
    }
    got_q = {
        r.o_orderpriority: [(e.b, e.n) for e in r.qsketch]
        for r in store.read(spark, "orders_state_qsketch").collect()
    }
    assert got_q == want_q

    # replay guard: signed folds are NOT idempotent, so re-applying the
    # churn batch under its committed id must be a no-op for ALL three
    # current-state tables (a double-fold would double-retract)
    last_bid = store.last_batch_id("orders_state_stats")
    assert last_bid is not None
    churn = topic.filter(~F.col("value").contains('"op":"c"'))
    proc.process_batch(churn, last_bid)
    assert sorted(map(tuple, store.read(spark, "orders_state_stats")
                      .select("o_orderpriority", "n", "sum", "sumsq")
                      .collect())) == got
    assert {
        r.o_orderpriority: list(r.cms)
        for r in store.read(spark, "orders_state_cms").collect()
    } == want_cms
    assert {
        r.o_orderpriority: [(e.b, e.n) for e in r.qsketch]
        for r in store.read(spark, "orders_state_qsketch").collect()
    } == want_q


def test_state_sketch_guards_survive_partial_commit_retry(
    spark, sf_dir, tmp_path
):
    """A batch that crashes AFTER the <table>_state_stats publish but
    BEFORE the _state_cms/_state_qsketch publishes is re-delivered by the
    checkpoint; the stats table's guard then says "committed", but the
    sketch tables must still fold the batch's signed delta — each state
    table is independently batch-id-guarded at the same nesting level
    (a nested guard would skip them forever: silent divergence)."""
    _partial_commit_retry(spark, sf_dir, tmp_path, "orders_state_cms")


def test_topk_guard_survives_partial_commit_retry(spark, sf_dir, tmp_path):
    """<table>_topk is published right after <table>_cms under its own
    guard: a crash between the two publishes must not lose the batch's
    candidate values on the retry (the _cms guard alone would skip
    them for good)."""
    _partial_commit_retry(spark, sf_dir, tmp_path, "orders_topk")


def _partial_commit_retry(spark, sf_dir, tmp_path, crash_table):
    """Crash the first publish aimed at `crash_table` in batch 2, retry
    the batch under the same id, and check every sketch table against
    its oracle (and, for `orders_topk`, against a crash-free run)."""
    from kafka_cdc_redshift_spark.functions.incremental import (
        group_freq_sketch,
        group_quantile_sketch,
    )
    from kafka_cdc_redshift_spark.sources.envelopes import (
        synth_debezium_before_topic,
    )

    store = ParquetTargetStore(str(tmp_path / "store"))
    rules = [
        SyncRule(
            db="salesdb", table="orders", primary_key=("o_orderkey",),
            stats_group_columns=("o_orderpriority",),
            stats_value_column="o_totalprice",
            stats_topk_column="o_custkey",
            stats_quantile_column="o_totalprice",
            stats_current_state=True,
        )
    ]
    schemas = {"orders": load_table(spark, sf_dir, "orders").schema}
    proc = CdcBatchProcessor(spark, rules, store, payload_schemas=schemas)
    topic = synth_debezium_before_topic(spark, sf_dir)
    inserts = topic.filter(F.col("value").contains('"op":"c"'))
    churn = topic.filter(~F.col("value").contains('"op":"c"'))
    proc.process_batch(inserts, 1)

    # inject the crash: the first publish aimed at `crash_table` dies
    orig_publish = store.publish
    armed = {"on": True}

    def flaky_publish(df, table, *a, **kw):
        if armed["on"] and table == crash_table:
            armed["on"] = False
            raise RuntimeError("injected crash")
        return orig_publish(df, table, *a, **kw)

    store.publish = flaky_publish
    with pytest.raises(RuntimeError, match="injected crash"):
        proc.process_batch(churn, 2)
    store.publish = orig_publish
    if crash_table == "orders_state_cms":
        # batch 2 landed in _state_stats but in neither sketch table
        assert store.last_batch_id("orders_state_stats") == 2
        assert store.last_batch_id("orders_state_cms") != 2
        assert store.last_batch_id("orders_state_qsketch") != 2
    else:
        # batch 2 landed in _cms but not in _topk
        assert store.last_batch_id("orders_cms") == 2
        assert store.last_batch_id("orders_topk") != 2

    # the checkpoint retry re-delivers batch 2 under the same id: the
    # tables that missed it fold it, the committed ones must not
    # double-fold
    proc.process_batch(churn, 2)

    if crash_table == "orders_topk":
        clean = ParquetTargetStore(str(tmp_path / "clean"))
        ref = CdcBatchProcessor(spark, rules, clean, payload_schemas=schemas)
        ref.process_batch(inserts, 1)
        ref.process_batch(churn, 2)

        def topk(s):
            return sorted(map(tuple, s.read(spark, "orders_topk").collect()))

        assert topk(store) == topk(clean) and topk(clean)

    orders = load_table(spark, sf_dir, "orders")
    live = orders.filter(F.col("o_orderkey") % 7 != 0)
    want_cms = {
        r.o_orderpriority: list(r.cms)
        for r in group_freq_sketch(
            live.select("o_orderpriority", "o_custkey"),
            ["o_orderpriority"], "o_custkey",
        ).collect()
    }
    got_cms = {
        r.o_orderpriority: list(r.cms)
        for r in store.read(spark, "orders_state_cms").collect()
    }
    assert got_cms == want_cms

    live_q = live.select(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 3 == 0,
               F.col("o_totalprice") * F.lit(1.1))
        .otherwise(F.col("o_totalprice")).alias("v"),
    )
    want_q = {
        r.o_orderpriority: [(e.b, e.n) for e in r.qsketch]
        for r in group_quantile_sketch(
            live_q, ["o_orderpriority"], "v"
        ).collect()
    }
    got_q = {
        r.o_orderpriority: [(e.b, e.n) for e in r.qsketch]
        for r in store.read(spark, "orders_state_qsketch").collect()
    }
    assert got_q == want_q

    want_stats = sorted(map(tuple, live.select(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 3 == 0,
               F.col("o_totalprice") * F.lit(1.1))
        .otherwise(F.col("o_totalprice")).cast("long").alias("v"),
    ).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sum"),
        F.sum(F.col("v") * F.col("v")).alias("sumsq"),
    ).collect()))
    got_stats = sorted(map(tuple, store.read(spark, "orders_state_stats")
                           .select("o_orderpriority", "n", "sum", "sumsq")
                           .collect()))
    assert got_stats == want_stats and got_stats


def _job_stage_sites(spark, fn):
    """Run `fn`; return, per Spark job it started, the top frame of each
    of the job's stages' call sites (the Spark API method that submitted
    it, e.g. `...DataFrameReader.parquet(...)`).

    A stage the status store no longer holds is left out: past
    `spark.ui.retainedStages` the store evicts SKIPPED stage records
    first, and under adaptive execution a shuffle stage a later job of
    the same query reuses is re-recorded as skipped by that job. Such a
    stage belongs to a multi-stage query job; the single-stage schema-
    inference job and a write's result stage are never skipped, so
    they always report their call site."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    start = jsc.dagScheduler().numTotalJobs()
    fn()
    end = jsc.dagScheduler().numTotalJobs()
    jsc.listenerBus().waitUntilEmpty()
    status = jsc.statusStore()
    jobs = []
    for job_id in range(start, end):
        info = sc.statusTracker().getJobInfo(job_id)
        stages = list(info.stageIds) if info is not None else []
        jobs.append([
            status.lastStageAttempt(s).details().split("\n", 1)[0]
            for s in stages
            if sc.statusTracker().getStageInfo(s) is not None
        ])
    return jobs


def test_cow_batch_job_budget(spark, sf_dir, tmp_path, processor):
    """A steady copy-on-write micro-batch of the 2-rule fan-out runs at
    most 5 Spark jobs: the entry census, one job with no shuffle stage,
    and per table the merge's one window shuffle and the publish write.
    No target read infers its schema (the version pointer carries it),
    and the row count rides the write. The shuffle's coalesced output
    keeps each new version at no more files than the first batch's
    version."""
    from kafka_cdc_redshift_spark.operators.layout import _dir_data_files

    batches = [
        # orders inserts + customer snapshot, then updates, then deletes
        # (each later batch re-upserts the customer images too)
        synth_debezium_topic(spark, sf_dir, ops=(op,)) for op in ("c", "u", "d")
    ]
    batches = [
        spark.createDataFrame([(r.value,) for r in b.collect()], "value string")
        for b in batches
    ]
    store = processor.store
    jobs, files = [], []
    for i, b in enumerate(batches):
        jobs.append(_job_stage_sites(spark, lambda: processor.process_batch(b, i)))
        files.append({
            t: len(_dir_data_files(store.path(t))) for t in ("orders", "customer")
        })
    assert all(
        s.status == "finished"
        for statuses in processor.batch_statuses for s in statuses
    )
    for steady in jobs[1:]:
        assert len(steady) <= 5, steady
        census = steady[0]
        assert len(census) == 1 and "DataFrameWriter.save" in census[0], steady
    for steady in files[1:]:
        assert all(steady[t] <= files[0][t] for t in steady), files
    sites = [site for batch in jobs for job in batch for site in job]
    assert sites  # the call sites were recorded
    assert not [s for s in sites if "DataFrameReader.parquet" in s]


def _plan_paths(df):
    """Node names of `df`'s physical plan (exchanges placed, before
    adaptive re-planning), one list per root-to-leaf path, root first."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    paths = []

    def walk(node, above):
        above = above + [node.nodeName()]
        kids = node.children()
        if kids.size() == 0:
            paths.append(above)
        for i in range(kids.size()):
            walk(kids.apply(i), above)

    walk(plan, [])
    return paths


@pytest.mark.parametrize("layout", ["plain"])
def test_cow_merge_is_one_window_shuffle(spark, sf_dir, tmp_path, layout):
    """A copy-on-write target merges through one window Exchange over
    target ∪ updates and no anti-join."""
    store = ParquetTargetStore(str(tmp_path / "store"))
    rule = SyncRule(db="salesdb", table="orders", primary_key=("o_orderkey",))
    proc = CdcBatchProcessor(
        spark, [rule], store,
        payload_schemas={"orders": load_table(spark, sf_dir, "orders").schema},
    )
    published = []
    publish = store.publish

    def spy(df, table, **kw):
        published.append((table, df._jdf.queryExecution().executedPlan().toString(),
                          _plan_paths(df)))
        publish(df, table, **kw)

    store.publish = spy
    for i, op in enumerate(("c", "u")):
        topic = synth_debezium_topic(spark, sf_dir, ops=(op,), include_customer=False)
        proc.process_batch(
            spark.createDataFrame([(r.value,) for r in topic.collect()], "value string"),
            i,
        )
    [(table, plan, paths)] = published[1:]
    assert table == "orders"
    assert "LeftAnti" not in plan
    exchanges = [
        ln for ln in plan.splitlines() if ln.lstrip(" :+-").startswith("Exchange")
    ]
    assert len(exchanges) == 1, plan
    scans = [p for p in paths if p[-1].startswith("Scan parquet")]
    assert len(scans) == 1, paths  # the target's file scan
    assert "Window" in scans[0] and "Exchange" in scans[0]


def _kv_batch(spark, events):
    """(key, value, op, ts) events -> a Debezium topic of table d.t whose
    payload is `k long, v string`; a delete carries its image in
    `before`, as the connector emits it."""
    rows = []
    for k, v, op, ts in events:
        img = {"k": k, "v": v}
        rows.append({
            "before": img if op == "d" else None,
            "after": None if op == "d" else img,
            "source": {"db": "d", "table": "t"}, "op": op, "ts_ms": ts,
        })
    return _topic_df(spark, rows)


_KV = "k long, v string"


def _kv_store(kind: str, root: str):
    from kafka_cdc_redshift_spark.streaming import MergeOnReadTargetStore

    return (MergeOnReadTargetStore if kind == "mor" else ParquetTargetStore)(root)


@pytest.mark.parametrize("kind", ["cow", "mor"])
@pytest.mark.parametrize("delete_batch", [0, 1], ids=["first", "second"])
def test_skip_delete_keeps_a_first_batch_delete(spark, tmp_path, kind, delete_batch):
    """Under skip_delete a delete image upserts like any other image,
    whichever batch carries it: a copy-on-write bootstrap keeps it, as
    the merge and the merge-on-read read do."""
    from pyspark.sql import types as T

    events = [[(1, "a", "c", 1)], [(2, "b", "c", 3)]]
    events[delete_batch].append((1, "a", "d", 2))
    store = _kv_store(kind, str(tmp_path / "store"))
    proc = CdcBatchProcessor(
        spark,
        [SyncRule(db="d", table="t", primary_key=("k",), skip_delete=True)],
        store, payload_schemas={"t": T.StructType.fromDDL(_KV)},
    )
    for i, batch in enumerate(events):
        proc.process_batch(_kv_batch(spark, batch), i)
    assert {r.k for r in store.read(spark, "t").collect()} == {1, 2}


def test_mor_fanout_batch_job_budget(spark, tmp_path):
    """A steady merge-on-read batch of an N-rule fan-out runs 1 + 2N Spark
    jobs: the entry census, and per table the LWW dedup's window shuffle
    and the delta write."""
    import json

    from pyspark.sql import types as T

    from kafka_cdc_redshift_spark.streaming import MergeOnReadTargetStore

    tables = ["t0", "t1", "t2", "t3"]
    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    proc = CdcBatchProcessor(
        spark,
        [SyncRule(db="d", table=t, primary_key=("k",)) for t in tables],
        store, payload_schemas={t: T.StructType.fromDDL(_KV) for t in tables},
    )

    def batch(op):
        return spark.createDataFrame([
            (json.dumps({
                "before": None, "after": {"k": k, "v": f"{op}{k}"},
                "source": {"db": "d", "table": t}, "op": op, "ts_ms": k,
            }),)
            for t in tables for k in range(8)
        ], "value string")

    proc.process_batch(batch("c"), 0)
    jobs = _job_stage_sites(spark, lambda: proc.process_batch(batch("u"), 1))
    assert {s.status for s in proc.batch_statuses[-1]} == {"finished"}
    assert len(jobs) == 1 + 2 * len(tables), jobs
    assert all(store.delta_count(t) == 2 for t in tables)


def _grouped_census(batch, spec):
    """The grouped-aggregation census: (total rows, routed keys)."""
    from kafka_cdc_redshift_spark.sources import envelopes

    field = envelopes.json_fields()
    rows = (
        batch.groupBy(
            field(spec.db).alias("db"),
            field(spec.table).alias("tb"),
            F.coalesce(spec.yields_rows(field), F.lit(False)).alias("routed"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    return sum(r["cnt"] for r in rows), {
        (r["db"], r["tb"]) for r in rows if r["routed"]
    }


def _census_events(fmt):
    """A mixed batch of `fmt` envelopes, routed and not, and the routed
    (db, table) keys it holds."""
    img = {"k": 1, "v": "x"}
    if fmt in ("FLINK-CDC", "MSK-DEBEZIUM-CDC"):
        def env(db, table, op):
            src = {"db": db}
            if table is not None:
                src["table"] = table
            return {"before": None, "after": img, "source": src,
                    "op": op, "ts_ms": 1}
        events = [env("d", "ta", "c"), env("d", "ta", "u"), env("d", "tb", "r"),
                  env("d", "tc", "x"),  # unknown op
                  env("d", None, "c"),  # no source.table
                  env(None, "ta", "c"), env("e", "ta", "d")]
        want = {("d", "ta"), ("d", "tb"), ("d", None), (None, "ta"), ("e", "ta")}
    elif fmt == "DMS-CDC":
        def env(db, table, op, rtype="data"):
            meta = {"timestamp": "2024-01-01 00:00:00", "record-type": rtype,
                    "operation": op, "schema-name": db}
            if table is not None:
                meta["table-name"] = table
            return {"data": img, "metadata": meta}
        events = [env("d", "ta", "insert"), env("d", "tb", "load"),
                  env("d", "tc", "insert", rtype="control"),  # control record
                  env("d", "td", "truncate"),  # unknown operation
                  env("d", None, "update"), env(None, "ta", "delete")]
        want = {("d", "ta"), ("d", "tb"), ("d", None), (None, "ta")}
    elif fmt == "CANAL-CDC":
        def env(db, table, typ, data, **kw):
            e = {"database": db, "type": typ, "ts": 1, "data": data, **kw}
            if table is not None:
                e["table"] = table
            return e
        events = [env("d", "ta", "INSERT", [img, img]), env("d", "tb", "DELETE", [img]),
                  env("d", "tc", "CREATE", None, isDdl=True, sql="create table tc"),
                  env("d", "td", "INSERT", []),  # empty data array
                  env("d", "te", "UPDATE", None),
                  env("d", None, "INSERT", [img]), env(None, "ta", "UPDATE", [img])]
        want = {("d", "ta"), ("d", "tb"), ("d", None), (None, "ta")}
    else:  # MONGO-CDC
        def env(db, coll, op):
            ns = {"db": db}
            if coll is not None:
                ns["coll"] = coll
            return {"operationType": op, "fullDocument": '{"k": 1}',
                    "documentKey": '{"_id": 1}', "ns": ns, "ts_ms": 1}
        events = [env("a", "c1", "insert"), env("a", "c2", "replace"),
                  env("a", "c3", "drop"),  # unknown op
                  env("a", None, "insert"), env(None, "c1", "delete")]
        want = {("a", "c1"), ("a", "c2"), ("a", None), (None, "c1")}
    return events, want


@pytest.mark.parametrize(
    "fmt", ["FLINK-CDC", "DMS-CDC", "CANAL-CDC", "MONGO-CDC"]
)
def test_census_matches_grouped_census(spark, tmp_path, fmt):
    """The one-job observed census counts the rows and routes the keys a
    grouped aggregation over the batch does, for every format, over
    unroutable rows too: a non-JSON line, an envelope without its table
    field, a NULL db, an unknown op, a DMS control record, a Canal DDL
    and an empty `data` array."""
    import json

    from kafka_cdc_redshift_spark.sources import envelopes

    events, want = _census_events(fmt)
    values = [json.dumps(e) for e in events] + ["not json", "{}", "é"]
    batch = spark.createDataFrame([(v,) for v in values], "value string").persist()
    got = []
    try:
        proc = CdcBatchProcessor(
            spark, [], ParquetTargetStore(str(tmp_path / "s")), cdc_format=fmt
        )
        jobs = _job_stage_sites(spark, lambda: got.append(proc._batch_census(batch)))
        total, routed = got[0]
        grouped = _grouped_census(batch, envelopes.cdc_format(fmt))
    finally:
        batch.unpersist()
    assert (total, routed) == grouped
    assert routed == want
    assert total == len(values)
    assert len(jobs) == 1 and len(jobs[0]) == 1, jobs


def test_maintenance_jobs_carry_maintenance_job_group(spark, sf_dir, tmp_path):
    """Prune, the fold backstop and compaction run under the batch's
    maintenance job group `cdc-maint-<batch_id>`, on the maintenance
    pool's worker threads too."""
    store = ParquetTargetStore(str(tmp_path / "store"))
    rules = [
        SyncRule(db="salesdb", table="orders", primary_key=("o_orderkey",),
                 save_delete=True),
        SyncRule(db="salesdb", table="customer", primary_key=("c_custkey",)),
    ]
    proc = CdcBatchProcessor(
        spark, rules, store, max_workers=4, compact_every_n_batches=1,
        payload_schemas={
            t: load_table(spark, sf_dir, t).schema for t in ("orders", "customer")
        },
    )
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # the maintenance step runs from the first compaction to the last prune
    span = {}
    compact, prune = proc._maybe_compact, proc._maybe_prune_versions

    def compact_first():
        span["start"] = jsc.dagScheduler().numTotalJobs()
        compact()

    def prune_last():
        prune()
        span["end"] = jsc.dagScheduler().numTotalJobs()

    proc._maybe_compact, proc._maybe_prune_versions = compact_first, prune_last
    for i, op in enumerate(("c", "d")):
        proc.process_batch(synth_debezium_topic(spark, sf_dir, ops=(op,)), i)
    assert not proc.compact_errors, proc.compact_errors
    jsc.listenerBus().waitUntilEmpty()
    start, end = span["start"], span["end"]
    assert end > start  # the delete log's fold ran jobs
    assert set(range(start, end)) <= set(
        sc.statusTracker().getJobIdsForGroup("cdc-maint-1")
    )


def test_standing_ann_read_job_budget(spark, sf_dir, tmp_path):
    """A standing read of tombstoned ANN state runs only the jobs its
    answer needs: replaying both batches, the maintenance fold and the
    live-cell read open every segment with the schema its manifest
    recorded (no parquet inference job), and a fold over tombstones the
    last fold already truncated writes nothing."""
    from kafka_cdc_redshift_spark.streaming.ann_ingest import AnnIngest
    from kafka_cdc_redshift_spark.streaming.store import AppendLog

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5) + 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    updated = emb.filter(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    tombs = emb.filter(
        (F.col("vec_id") % 10 == 3) | (F.col("vec_id") % 10 == 7)
    ).select("vec_id")
    log = AppendLog(str(tmp_path / "state"))
    AnnIngest(log, centroids=cents)
    live = []

    def serve():
        ann = AnnIngest(log)
        ann.process_batch(emb, 0)
        ann.process_batch(updated, 1, tombstones=tombs)
        ann.compact_state(spark, min_segments=2)
        live.append(sorted(r.vec_id for r in ann.live_cells(spark).collect()))

    serve()  # builds the state; its fold drops the dead rows
    jobs = _job_stage_sites(spark, serve)
    want = sorted(i for i in range(40) if i % 10 != 7)
    assert live == [want, want]
    sites = [site for job in jobs for site in job]
    assert sites  # the call sites were recorded
    assert not [
        s for s in sites
        if "DataFrameReader.parquet" in s or "DataFrameWriter.parquet" in s
    ], sites


def test_mor_read_and_fold_infer_no_schema(spark, tmp_path):
    """Merge-on-read deltas open with the schema each delta recorded at
    commit: resolving base ∪ 2 deltas and folding them run no parquet
    schema-inference job."""
    from kafka_cdc_redshift_spark.streaming import MergeOnReadTargetStore

    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    schema = "pid long, val string, op string, ts_ms long"
    store.publish(spark.createDataFrame([(1, "a")], "pid long, val string"), "t")
    store.publish_delta(
        spark.createDataFrame([(1, "b", "u", 2), (2, "c", "c", 2)], schema),
        "t", 0, keys=["pid"],
    )
    store.publish_delta(
        spark.createDataFrame([(2, None, "d", 3), (3, "e", "c", 3)], schema),
        "t", 1, keys=["pid"],
    )
    counts = []
    jobs = _job_stage_sites(spark, lambda: (
        counts.append(store.read(spark, "t").count()),
        store.fold_deltas(spark, "t"),
    ))
    assert counts == [2] and store.delta_count("t") == 0
    assert {(r.pid, r.val) for r in store.read(spark, "t").collect()} == {
        (1, "b"), (3, "e")
    }
    sites = [site for job in jobs for site in job]
    assert sites
    assert not [s for s in sites if "DataFrameReader.parquet" in s], sites


def test_batch_jobs_carry_batch_job_group(spark, sf_dir, processor):
    """Every Spark job a steady batch starts, the entry census and cache
    build included, carries the batch's job group, and the group does
    not leak onto later jobs of the calling thread."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    batches = [
        spark.createDataFrame(
            [(r.value,) for r in synth_debezium_topic(
                spark, sf_dir, ops=(op,)).collect()],
            "value string",
        )
        for op in ("c", "u")
    ]
    processor.process_batch(batches[0], 0)
    prior = sc.getLocalProperty("spark.jobGroup.id")
    start = jsc.dagScheduler().numTotalJobs()
    processor.process_batch(batches[1], 1)
    end = jsc.dagScheduler().numTotalJobs()
    spark.range(1).count()  # a later job on this thread
    jsc.listenerBus().waitUntilEmpty()
    assert end > start
    assert set(range(start, end)) <= set(sc.statusTracker().getJobIdsForGroup(
        "cdc-batch-1"
    ))
    assert end not in sc.statusTracker().getJobIdsForGroup("cdc-batch-1")
    assert sc.getLocalProperty("spark.jobGroup.id") == prior


def test_empty_batch_runs_nothing(spark, tmp_path, processor):
    """An empty batch runs one job, the census, returns no statuses and
    triggers no maintenance."""
    ran = []
    processor._maybe_compact = lambda: ran.append("compact")
    processor._maybe_fold_backstop = lambda: ran.append("fold")
    processor._maybe_prune_versions = lambda: ran.append("prune")
    empty = spark.createDataFrame([], "value string")
    jobs = _job_stage_sites(
        spark, lambda: ran.append(processor.process_batch(empty, 0))
    )
    assert ran == [[]] and processor.batch_statuses == [[]]
    assert len(jobs) == 1, jobs  # the census
    assert processor._batch_census(empty) == (0, set())


def test_unroutable_batch_is_no_data_for_every_rule(spark, sf_dir, tmp_path):
    """Rows no rule routes (unknown op, another db, not JSON) make every
    rule report no-data — single-rule processors included, which take the
    census too — and create no target directory."""
    orders = {"o_orderkey": 1, "o_custkey": 1}
    batch = _topic_df(spark, [
        _env("salesdb", "orders", orders, op="x"),
        _env("otherdb", "orders", orders),
        _env("otherdb", "customer", {"c_custkey": 1}),
    ]).union(spark.createDataFrame([("not json",)], ["value"]))
    schemas = {
        "orders": load_table(spark, sf_dir, "orders").schema,
        "customer": load_table(spark, sf_dir, "customer").schema,
    }
    root = tmp_path / "store"
    for rules in (RULES, RULES[:1]):
        proc = CdcBatchProcessor(
            spark, rules, ParquetTargetStore(str(root)),
            payload_schemas=schemas,
        )
        statuses = proc.process_batch(batch, 0)
        assert sorted((s.table, s.status) for s in statuses) == sorted(
            (r.target_name, "no-data") for r in rules
        )
    assert not {"orders", "customer"} & set(os.listdir(root))


@pytest.mark.parametrize("with_exact_rule", [False, True], ids=["probe", "census"])
def test_regex_mongo_rule_syncs_every_matching_collection(
    spark, tmp_path, with_exact_rule
):
    """A MONGO-CDC rule with a regex collection (`cust_.*`) resolves to
    the census's matching collections like every other format, so it
    syncs the documents of every matching collection, alone or beside an
    exact rule."""
    import json

    def mongo(coll, cid, op="insert"):
        return {
            "operationType": op,
            "fullDocument": None if op == "delete" else json.dumps({"cid": cid}),
            "documentKey": json.dumps({"_id": cid}),
            "ns": {"db": "appdb", "coll": coll},
            "ts_ms": cid + (100 if op == "delete" else 0),
        }

    rules = [SyncRule(db="appdb", table="cust_.*", primary_key=("doc_id",),
                      target_table="customers")]
    if with_exact_rule:
        rules.append(SyncRule(db="appdb", table="orders", primary_key=("doc_id",)))
    batch = _topic_df(spark, [
        mongo("cust_1", 1), mongo("cust_2", 2), mongo("cust_2", 5),
        mongo("cust_2", 5, op="delete"),
        mongo("xcust_1", 3),  # the anchored match keeps this one out
        mongo("orders", 4),
    ])
    store = ParquetTargetStore(str(tmp_path / "store"))
    proc = CdcBatchProcessor(spark, rules, store, cdc_format="MONGO-CDC")
    statuses = {s.table: s.status for s in proc.process_batch(batch, 0)}
    assert statuses == {r.target_name: "finished" for r in rules}
    docs = store.read(spark, "customers").collect()
    assert sorted(r.doc_id for r in docs) == ["1", "2"]


def test_rule_table_is_an_equal_name_else_a_fullmatch_regex(spark, tmp_path):
    """A rule's table routes by an equal name, else as a whole-name
    Python regex over the batch's table names (SyncRule.matches): a
    literal `t$1` syncs its own row, `a\\.b` only `a.b`, `a.b` also `axb`
    (the regex reading), and `t[1`, no valid regex, its own row. An
    envelope without a table name routes to no rule."""
    tables = ("t$1", "a.b", "axb", "t[1", None)
    batch = _topic_df(spark, [
        _env("d", t, {"pid": i, "tb": t}) for i, t in enumerate(tables)
    ])
    for i, (table, want) in enumerate((
        ("t$1", ["t$1"]),
        (r"a\.b", ["a.b"]),
        ("a.b", ["a.b", "axb"]),
        ("t[1", ["t[1"]),
    )):
        store = ParquetTargetStore(str(tmp_path / f"s{i}"))
        rule = SyncRule(db="d", table=table, primary_key=("pid",),
                        target_table="out")
        proc = CdcBatchProcessor(spark, [rule], store)
        assert [s.status for s in proc.process_batch(batch, 0)] == [
            "finished"
        ], table
        got = sorted(r.tb for r in store.read(spark, "out").collect())
        assert got == want, table


def test_regex_rule_runs_the_jobs_of_its_literal_twin(spark, sf_dir, tmp_path):
    """A regex-spelled rule routes through the batch census like its
    literal twin: a steady batch under `^orders$` starts exactly as many
    Spark jobs as under `orders`, and no per-rule isEmpty probe."""
    schemas = {"orders": load_table(spark, sf_dir, "orders").schema}
    batches = [
        spark.createDataFrame(
            [(r.value,) for r in synth_debezium_topic(
                spark, sf_dir, ops=(op,), include_customer=False
            ).collect()],
            "value string",
        )
        for op in ("c", "u")
    ]
    steady = {}
    for table in ("orders", "^orders$"):
        proc = CdcBatchProcessor(
            spark,
            [SyncRule(db="salesdb", table=table, primary_key=("o_orderkey",),
                      target_table="orders")],
            ParquetTargetStore(str(tmp_path / f"s{len(steady)}")),
            payload_schemas=schemas,
        )
        proc.process_batch(batches[0], 0)
        steady[table] = _job_stage_sites(
            spark, lambda: proc.process_batch(batches[1], 1)
        )
        assert [s.status for b in proc.batch_statuses for s in b] == [
            "finished", "finished"
        ], table
    assert len(steady["^orders$"]) == len(steady["orders"]), steady
    sites = [site for jobs in steady.values() for job in jobs for site in job]
    assert sites and not [s for s in sites if "isEmpty" in s], sites


def test_maintenance_failure_is_recorded_and_logged(
    spark, tmp_path, monkeypatch, caplog
):
    """A maintenance step that fails does not fail the batch: the error
    lands in `compact_errors` and as a warning of the job's logger."""
    import logging

    store = ParquetTargetStore(str(tmp_path / "store"))

    def prune_versions(table, **kw):
        raise OSError("disk gone")

    monkeypatch.setattr(store, "prune_versions", prune_versions)
    proc = CdcBatchProcessor(
        spark, [SyncRule(db="d", table="t", primary_key=("pid",))], store
    )
    with caplog.at_level(logging.WARNING, logger="kafka_cdc_redshift_spark"):
        statuses = proc.process_batch(
            _topic_df(spark, [_env("d", "t", {"pid": 1})]), 0
        )
    assert [s.status for s in statuses] == ["finished"]
    assert proc.compact_errors == [("t", "OSError('disk gone')")]
    assert [
        r.getMessage() for r in caplog.records
        if r.name == "kafka_cdc_redshift_spark.streaming.job"
    ] == ["maintenance of 't' failed, retried next cycle: OSError('disk gone')"]


def test_unknown_cdc_format_fails_at_construction(spark, tmp_path):
    """A cdc_format typo fails when the processor is built, naming the
    known formats — not inside every rule task of the first non-empty
    batch."""
    with pytest.raises(ValueError) as err:
        CdcBatchProcessor(
            spark, RULES, ParquetTargetStore(str(tmp_path / "store")),
            cdc_format="DEBEZIUM",
        )
    msg = str(err.value)
    assert "DEBEZIUM" in msg
    for name in ("FLINK-CDC", "MSK-DEBEZIUM-CDC", "DMS-CDC", "CANAL-CDC",
                 "MONGO-CDC"):
        assert name in msg
