"""Merge-on-read target store: delta publishes must resolve to EXACTLY the
copy-on-write result for the same batch sequence, survive replays and
folds, and slot under the unchanged processor loop (same stream, same
final state, O(|batch|) per-publish write)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_cdc_redshift_spark.config import SyncRule
from kafka_cdc_redshift_spark.sources import load_table
from kafka_cdc_redshift_spark.sources.envelopes import synth_debezium_topic
from kafka_cdc_redshift_spark.streaming import (
    CdcBatchProcessor,
    MergeOnReadTargetStore,
    ParquetTargetStore,
    run_file_stream,
)


def _updates(spark, rows):
    # (pid, val, op, ts) LWW-deduped batch shape
    return spark.createDataFrame(
        [Row(pid=p, val=v, op=o, ts_ms=t) for p, v, o, t in rows],
        "pid long, val string, op string, ts_ms long",
    )


def test_mor_resolution_upsert_delete_and_fold(spark, tmp_path):
    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    store.publish_delta(
        _updates(spark, [(1, "a", "c", 1), (2, "b", "c", 1)]),
        "t", 0, keys=["pid"],
    )
    assert {(r.pid, r.val) for r in store.read(spark, "t").collect()} == {
        (1, "a"), (2, "b")
    }
    # batch 2: update 1, delete 2, insert 3 — latest delta wins per key
    store.publish_delta(
        _updates(spark, [(1, "a2", "u", 2), (2, None, "d", 2), (3, "c", "c", 2)]),
        "t", 1, keys=["pid"],
    )
    want = {(1, "a2"), (3, "c")}
    assert {(r.pid, r.val) for r in store.read(spark, "t").collect()} == want
    # bookkeeping never surfaces
    assert set(store.read(spark, "t").columns) == {"pid", "val"}

    # fold: same data, deltas retired, base version exists
    v = store.fold_deltas(spark, "t")
    assert v == 0
    assert store._delta.committed("t") == []
    assert {(r.pid, r.val) for r in store.read(spark, "t").collect()} == want

    # post-fold deltas still resolve over the new base
    store.publish_delta(
        _updates(spark, [(3, None, "d", 3), (4, "e", "c", 3)]),
        "t", 2, keys=["pid"],
    )
    assert {(r.pid, r.val) for r in store.read(spark, "t").collect()} == {
        (1, "a2"), (4, "e")
    }


def test_mor_replay_idempotent_including_across_fold(spark, tmp_path):
    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    b1 = _updates(spark, [(1, "a", "c", 1), (2, "b", "c", 1)])
    store.publish_delta(b1, "t", 0, keys=["pid"])
    want = {(r.pid, r.val) for r in store.read(spark, "t").collect()}
    # pre-fold replay: manifest guard skips it
    store.publish_delta(b1, "t", 0, keys=["pid"])
    assert store._delta.committed("t") == [0]
    assert {(r.pid, r.val) for r in store.read(spark, "t").collect()} == want
    # post-fold replay: the batch id was retired, so the delta re-appends —
    # and must re-pick identical winners (the resolution-idempotence the
    # fold relies on)
    store.fold_deltas(spark, "t")
    store.publish_delta(b1, "t", 0, keys=["pid"])
    assert {(r.pid, r.val) for r in store.read(spark, "t").collect()} == want


def test_mor_skip_delete_mode(spark, tmp_path):
    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    store.publish_delta(
        _updates(spark, [(1, "a", "c", 1)]), "t", 0,
        keys=["pid"], skip_delete=True,
    )
    store.publish_delta(
        _updates(spark, [(1, "tomb", "d", 2), (2, "b", "d", 2)]), "t", 1,
        keys=["pid"], skip_delete=True,
    )
    got = {(r.pid, r.val) for r in store.read(spark, "t").collect()}
    assert got == {(1, "tomb"), (2, "b")}  # delete images upsert


def test_mor_schema_evolution_adds_column_at_read(spark, tmp_path):
    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    store.publish_delta(
        _updates(spark, [(1, "a", "c", 1)]), "t", 0, keys=["pid"]
    )
    wide = spark.createDataFrame(
        [Row(pid=2, val="b", extra=9, op="c", ts_ms=2)],
        "pid long, val string, extra long, op string, ts_ms long",
    )
    store.publish_delta(wide, "t", 1, keys=["pid"])
    out = {r.pid: r.asDict() for r in store.read(spark, "t").collect()}
    assert out[1]["extra"] is None and out[2]["extra"] == 9


def test_mor_stream_equals_cow_stream(spark, sf_dir, tmp_path):
    """The decisive equivalence: the SAME two-batch CDC stream through the
    unchanged processor loop, once over the copy-on-write store and once
    over merge-on-read, must end in the same final state — before AND
    after a fold."""
    def run(store, sub):
        proc = CdcBatchProcessor(
            spark,
            [SyncRule(db="salesdb", table="orders", primary_key=("o_orderkey",))],
            store,
            payload_schemas={
                "orders": load_table(spark, sf_dir, "orders").schema
            },
        )
        src = tmp_path / f"topic_{sub}"
        src.mkdir()
        topic = synth_debezium_topic(spark, sf_dir, include_customer=False)
        with open(src / "b1.json", "w") as f:
            f.write("\n".join(
                r.value for r in
                topic.filter(F.col("value").contains('"op":"c"')).collect()
            ) + "\n")
        with open(src / "b2.json", "w") as f:
            f.write("\n".join(
                r.value for r in
                topic.filter(F.col("value").contains('"op":"u"')
                             | F.col("value").contains('"op":"d"')).collect()
            ) + "\n")
        q = run_file_stream(spark, str(src), proc, str(tmp_path / f"ckpt_{sub}"),
                            max_files_per_trigger=1)
        q.awaitTermination(180)
        return store

    cow = run(ParquetTargetStore(str(tmp_path / "cow")), "cow")
    mor = run(MergeOnReadTargetStore(str(tmp_path / "mor")), "mor")

    def state(store):
        return sorted(
            (r.o_orderkey, round(r.o_totalprice, 2))
            for r in store.read(spark, "orders").collect()
        )

    want = state(cow)
    assert state(mor) == want and want
    mor.fold_deltas(spark, "orders")
    assert state(mor) == want
    assert sorted(mor.read(spark, "orders").columns) == sorted(
        cow.read(spark, "orders").columns
    )


def test_mor_delete_log_append_equals_cow(spark, sf_dir, tmp_path):
    """save_delete under merge-on-read: the delete log appends O(|batch|)
    deltas instead of rewriting the whole log per batch, and must carry
    the same delete images as the copy-on-write path — including across
    a fold and a replayed batch."""
    def run(store, sub):
        proc = CdcBatchProcessor(
            spark,
            [SyncRule(db="salesdb", table="orders",
                      primary_key=("o_orderkey",), save_delete=True)],
            store,
            payload_schemas={
                "orders": load_table(spark, sf_dir, "orders").schema
            },
        )
        topic = synth_debezium_topic(spark, sf_dir, include_customer=False)
        proc.process_batch(topic, 0)
        return proc

    cow = ParquetTargetStore(str(tmp_path / "cow"))
    mor = MergeOnReadTargetStore(str(tmp_path / "mor"))
    run(cow, "cow")
    proc_mor = run(mor, "mor")

    def dels(store):
        return sorted(
            (r.o_orderkey, r.ts_ms)
            for r in store.read(spark, "orders_delete").collect()
        )

    want = dels(cow)
    assert dels(mor) == want and want
    # replayed batch: manifest guard keeps the log converged
    topic = synth_debezium_topic(spark, sf_dir, include_customer=False)
    proc_mor.process_batch(topic, 0)
    assert dels(mor) == want
    # fold materializes the log unchanged
    mor.fold_deltas(spark, "orders_delete")
    assert dels(mor) == want


def test_mor_read_plan_single_shuffle(spark, tmp_path):
    """Scale guard: resolving base + N deltas is ONE hash exchange (the
    per-key window) and stays JVM-native — no per-delta shuffles, no
    Python in the read path."""
    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    store.publish_delta(_updates(spark, [(1, "a", "c", 1)]), "t", 0, keys=["pid"])
    store.fold_deltas(spark, "t")
    for i in range(1, 4):
        store.publish_delta(
            _updates(spark, [(i + 1, "x", "c", i)]), "t", i, keys=["pid"]
        )
    plan = store.read(spark, "t")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_mor_scd2_history_equals_cow_and_full_rebuild(spark, sf_dir, tmp_path):
    """SCD2 history under merge-on-read: raw-event deltas resolved by one
    scd2_merge_batch(base, union(deltas)) must equal the copy-on-write
    streamed history AND the one-shot scd2_history rebuild — before and
    after a fold — and a replayed batch must be a no-op, including a
    replay delivered right after a fold (the has_applied guard)."""
    from kafka_cdc_redshift_spark.operators.merge import scd2_history
    from kafka_cdc_redshift_spark.sources.envelopes import synth_orders_changelog

    def run(store, sub):
        proc = CdcBatchProcessor(
            spark,
            [SyncRule(db="salesdb", table="orders",
                      primary_key=("o_orderkey",), scd2_history=True)],
            store,
            payload_schemas={
                "orders": load_table(spark, sf_dir, "orders").schema
            },
        )
        topic = synth_debezium_topic(spark, sf_dir, include_customer=False)
        b1 = topic.filter(F.col("value").contains('"op":"c"'))
        b2 = topic.filter(F.col("value").contains('"op":"u"')
                          | F.col("value").contains('"op":"d"'))
        proc.process_batch(b1, 0)
        proc.process_batch(b2, 1)
        return proc

    cow = ParquetTargetStore(str(tmp_path / "cow"))
    mor = MergeOnReadTargetStore(str(tmp_path / "mor"))
    run(cow, "cow")
    proc_mor = run(mor, "mor")

    cols = ["o_orderkey", "valid_from", "valid_to", "is_current"]

    def hist(store):
        return sorted(map(tuple, store.read(spark, "orders_history")
                          .select(*cols).collect()))

    full = scd2_history(
        synth_orders_changelog(spark, sf_dir).select(
            "op", "ts_ms", "o_orderkey", "o_totalprice"
        ),
        ["o_orderkey"],
    )
    want = sorted(map(tuple, full.select(*cols).collect()))
    assert hist(cow) == want
    assert hist(mor) == want

    # replayed last batch pre-fold: manifest guard
    topic = synth_debezium_topic(spark, sf_dir, include_customer=False)
    b2 = topic.filter(F.col("value").contains('"op":"u"')
                      | F.col("value").contains('"op":"d"'))
    proc_mor.process_batch(b2, 1)
    assert hist(mor) == want

    # fold, then replay the folded batch: has_applied spans the fold via
    # the base pointer's last folded batch id
    mor.fold_deltas(spark, "orders_history")
    assert hist(mor) == want
    proc_mor.process_batch(b2, 1)
    assert hist(mor) == want


def test_delta_kind_refusals_leave_deltas_unchanged(spark, tmp_path):
    """A table keeps the delta kind and keys of its first publish: a
    publish of another kind, or with other keys, raises and commits
    nothing."""
    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    ups = _updates(spark, [(1, "a", "c", 1)])
    store.publish_delta(ups, "keyed", 0, keys=["pid"])
    store.publish_append(ups, "log", 0)
    refusals = {
        "append onto a keyed table":
            lambda: store.publish_append(ups, "keyed", 1),
        "keyed onto an append table":
            lambda: store.publish_delta(ups, "log", 1, keys=["pid"]),
        "keyed with other keys":
            lambda: store.publish_delta(ups, "keyed", 1, keys=["val"]),
    }
    for case, publish in refusals.items():
        with pytest.raises(ValueError):
            publish()
        assert store._delta.committed("keyed") == [0], case
        assert store._delta.committed("log") == [0], case


def test_one_delta_log_per_store(spark, tmp_path):
    """Each store keeps its deltas in ONE log — copy-on-write under
    `_append/<table>/`, merge-on-read under `_delta/<table>/`, the
    layouts a store reopens from — and a merge-on-read store never opens
    the copy-on-write one."""
    ups = _updates(spark, [(1, "a", "c", 1)])
    cow_root = tmp_path / "cow"
    cow = ParquetTargetStore(str(cow_root))
    cow.publish_append(ups, "log", 0)
    assert (cow_root / "_append" / "log" / "batch=0").is_dir()

    mor_root = tmp_path / "mor"
    mor = MergeOnReadTargetStore(str(mor_root))
    mor.publish_delta(ups, "t", 0, keys=["pid"])
    mor.publish_append(ups, "log", 0)
    assert (mor_root / "_delta" / "t" / "batch=0").is_dir()
    assert (mor_root / "_delta" / "log" / "batch=0").is_dir()
    for table in ("t", "log", "absent"):
        mor.exists(table)
        mor.read(spark, table)
        mor.delta_count(table)
        mor.fold_deltas(spark, table)
    assert not (mor_root / "_append").exists()
