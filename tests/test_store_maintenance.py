"""Maintenance vs replay-guard interactions (round-6 hardening).

A maintenance rewrite (compaction, delta fold) moves no data, so it must
not erase the replay guards the streaming paths rely on:

  * the version pointer's batch_id must survive compact_table — otherwise
    batch N lands SCD2 history, maintenance compacts it, a crash before
    the checkpoint commit replays batch N, and the guard is gone
    (zero-length duplicate versions);
  * pure-append tables (delete log, quarantine) must not re-apply a
    replayed batch AFTER its delta was folded into the base — unlike
    keyed-merge resolution, base ∪ replayed-delta duplicates every row;
  * a fold that crashes between its base publish and its manifest retire
    must leave readers seeing each delta exactly once (the fold records
    folded ids atomically with the pointer; read excludes them; the next
    fold heals the manifest).
"""

import pytest
from pyspark.sql import Row

from kafka_cdc_redshift_spark.config import SyncRule
from kafka_cdc_redshift_spark.operators.layout import compact_table
from kafka_cdc_redshift_spark.streaming import (
    CdcBatchProcessor,
    MergeOnReadTargetStore,
    ParquetTargetStore,
)


def _rows(spark, rows):
    return spark.createDataFrame(
        [Row(pid=p, val=v) for p, v in rows], "pid long, val string"
    )


def _many_files(df):
    return df.repartition(8)


def test_compaction_carries_batch_id_forward(spark, tmp_path):
    store = ParquetTargetStore(str(tmp_path / "s"))
    store.publish(_many_files(_rows(spark, [(i, "x") for i in range(50)])),
                  "t", batch_id=7)
    assert store.last_batch_id("t") == 7
    v = compact_table(store, spark, "t", target_bytes=1 << 30,
                      min_files_to_compact=2)
    assert v is not None, "compaction must actually run for this test"
    # the HIGH finding: a maintenance republish erased the pointer
    assert store.last_batch_id("t") == 7
    # an explicit later batch still overrides the carried pointer
    store.publish(_rows(spark, [(1, "y")]), "t", batch_id=8)
    assert store.last_batch_id("t") == 8


def test_fold_then_compact_keeps_has_applied(spark, tmp_path):
    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    ups = _rows(spark, [(i, "a") for i in range(50)]).selectExpr(
        "pid", "val", "'c' as op", "1 as ts_ms"
    )
    store.publish_delta(_many_files(ups), "t", 3, keys=["pid"])
    store.fold_deltas(spark, "t")
    assert store.has_applied("t", 3)
    compact_table(store, spark, "t", target_bytes=1 << 30,
                  min_files_to_compact=2)
    # the fold recorded batch 3 in the base pointer; compaction must not
    # wipe it — a replay right after maintenance has to stay a no-op
    assert store.has_applied("t", 3)


def test_append_replay_after_fold_is_noop(spark, tmp_path):
    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    b0 = _rows(spark, [(1, "a"), (2, "b")])
    b1 = _rows(spark, [(3, "c")])
    store.publish_append(b0, "log", 0)
    store.publish_append(b1, "log", 1)
    assert store.read(spark, "log").count() == 3
    store.fold_deltas(spark, "log")
    assert store.read(spark, "log").count() == 3
    # replay of the just-folded batches: the manifest forgot them, but the
    # fold recorded them in the base pointer — re-appending would give
    # base ∪ delta = permanent duplicates
    store.publish_append(b1, "log", 1)
    store.publish_append(b0, "log", 0)
    assert store.read(spark, "log").count() == 3
    assert store._delta.committed("log") == []


def test_fold_crash_window_no_double_resolution(spark, tmp_path):
    """Simulate a fold that published its base but crashed before retiring
    the delta manifest — for every table kind, readers must see each
    delta exactly once, and the next fold heals the manifest."""
    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    store.publish_append(_rows(spark, [(1, "a")]), "log", 0)
    store.publish_append(_rows(spark, [(2, "b")]), "log", 1)
    # crash-window replica: base publish with folded ids, NO retire
    resolved = store.read(spark, "log")
    store.publish(resolved, "log", batch_id=1, folded_ids=[0, 1])
    assert store._delta.committed("log") == [0, 1]  # leftover manifest
    assert store.read(spark, "log").count() == 2     # not 4
    assert store.has_applied("log", 0) and store.has_applied("log", 1)
    # the next fold retires the leftovers and finds nothing new
    assert store.fold_deltas(spark, "log") is None
    assert store._delta.committed("log") == []
    assert store.read(spark, "log").count() == 2


def test_cow_store_append_log_and_fold(spark, tmp_path):
    """The copy-on-write store's append path: O(|batch|) publishes into its
    own AppendLog, replay-guarded (including across a fold), schema drift
    null-filled via per-batch unionByName, folded into a base version by
    fold_deltas."""
    store = ParquetTargetStore(str(tmp_path / "cow"))
    store.publish_append(_rows(spark, [(1, "a"), (2, "b")]), "log", 0)
    assert store.exists("log")
    assert store.current_version("log") is None  # nothing rewritten
    assert store.delta_count("log") == 1  # one committed delta dir
    # schema drift across batches: the new column null-fills old rows
    wide = spark.createDataFrame(
        [Row(pid=3, val="c", extra=9)], "pid long, val string, extra long"
    )
    store.publish_append(wide, "log", 1)
    out = {r.pid: r.extra for r in store.read(spark, "log").collect()}
    assert out == {1: None, 2: None, 3: 9}
    # replay pre-fold: manifest guard
    store.publish_append(_rows(spark, [(1, "a"), (2, "b")]), "log", 0)
    assert store.read(spark, "log").count() == 3
    # fold, then replay post-fold: pointer guard
    store.fold_deltas(spark, "log")
    assert store.current_version("log") is not None
    assert store.delta_count("log") == 0
    store.publish_append(_rows(spark, [(1, "a"), (2, "b")]), "log", 0)
    assert store.read(spark, "log").count() == 3


def test_fold_backstop_caps_delta_count(spark, tmp_path):
    """With compaction disabled, the processor's delta-count backstop must
    still fold merge-on-read state so read amplification stays bounded."""
    from pyspark.sql import functions as F

    from kafka_cdc_redshift_spark.sources import load_table
    from kafka_cdc_redshift_spark.sources.envelopes import synth_debezium_topic

    sf_dir = "/root/testdata/sf0.001"
    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    proc = CdcBatchProcessor(
        spark,
        [SyncRule(db="salesdb", table="orders", primary_key=("o_orderkey",),
                  save_delete=True)],
        store,
        payload_schemas={"orders": load_table(spark, sf_dir, "orders").schema},
        compact_every_n_batches=None,     # cadence "misconfigured" off
        max_deltas_before_fold=2,
    )
    topic = synth_debezium_topic(spark, sf_dir, include_customer=False)
    b1 = topic.filter(F.col("value").contains('"op":"c"'))
    b2 = topic.filter(F.col("value").contains('"op":"u"')
                      | F.col("value").contains('"op":"d"'))
    proc.process_batch(b1, 0)
    proc.process_batch(b2, 1)
    # two deltas accrued -> the backstop folded both tables at the cap
    assert store.delta_count("orders") == 0
    assert store.delta_count("orders_delete") == 0
    assert store.current_version("orders") is not None
    # and the folded state is the resolved merge, not a truncation
    got = store.read(spark, "orders").count()
    assert got > 0


def test_quality_gate_judges_each_image_on_its_own_text(spark, tmp_path):
    """A pk whose INSERT passes the gate but whose later UPDATE fails it:
    the update must be quarantined on its own text (not vouched for by
    the passing insert), so the target keeps the insert's state."""
    import json

    good = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away with many other curious animals wandering nearby today")
    bad = "spam spam spam spam spam spam spam spam spam spam spam spam " \
          "spam spam spam spam spam spam spam spam"  # fails TTR

    def env(doc_id, text, op, ts):
        return json.dumps({
            "before": None,
            "after": {"doc_id": doc_id, "text": text},
            "source": {"db": "corpus", "table": "documents", "ts_ms": ts},
            "op": op, "ts_ms": ts,
        })

    batch = spark.createDataFrame(
        [(env(1, good, "c", 100),), (env(1, bad, "u", 200),),
         (env(2, good, "c", 100),)],
        "value string",
    )
    for mode, store in (
        ("cow", ParquetTargetStore(str(tmp_path / "cow"))),
        ("mor", MergeOnReadTargetStore(str(tmp_path / "mor"))),
    ):
        proc = CdcBatchProcessor(
            spark,
            [SyncRule(db="corpus", table="documents", primary_key=("doc_id",),
                      quality_gate=True)],
            store,
        )
        proc.process_batch(batch, 0)
        tgt = {r.doc_id: r.text for r in
               store.read(spark, "documents").collect()}
        # the failing update never reached the target: doc 1 holds the
        # insert's text, not the spam update that was latest by ts
        assert tgt == {1: good, 2: good}, mode
        rej = store.read(spark, "documents_rejected").collect()
        assert [(r.doc_id, r.text) for r in rej] == [(1, bad)], mode


def test_quality_gate_quarantine_is_append_cost_under_cow(spark, tmp_path):
    """The CoW quarantine must publish O(|batch|) appends (no version
    rewrite of <table>_rejected per batch) — the round-5 finding."""
    import json

    bad = "a a a a a a a a a a a a a a a a a a a a a"

    def env(doc_id, ts):
        return json.dumps({
            "before": None,
            "after": {"doc_id": doc_id, "text": bad},
            "source": {"db": "corpus", "table": "documents", "ts_ms": ts},
            "op": "c", "ts_ms": ts,
        })

    store = ParquetTargetStore(str(tmp_path / "cow"))
    proc = CdcBatchProcessor(
        spark,
        [SyncRule(db="corpus", table="documents", primary_key=("doc_id",),
                  quality_gate=True)],
        store,
    )
    for bid in range(3):
        batch = spark.createDataFrame([(env(100 + bid, bid),)], "value string")
        proc.process_batch(batch, bid)
    # three batches -> three append deltas, zero rejected-table rewrites
    assert store.current_version("documents_rejected") is None
    assert store.delta_count("documents_rejected") == 3
    assert store.read(spark, "documents_rejected").count() == 3


def test_publish_append_none_batch_id_never_drops_rows(spark, tmp_path):
    """The r6 ADVICE low: publish_append(batch_id=None) — direct/
    process-style calls with no stream identity — must land EVERY call,
    not commit the literal None and treat all later None-id appends as
    replays (silently dropping them)."""
    for mode, store in (
        ("cow", ParquetTargetStore(str(tmp_path / "cow"))),
        ("mor", MergeOnReadTargetStore(str(tmp_path / "mor"))),
    ):
        store.publish_append(_rows(spark, [(1, "a")]), "log", None)
        store.publish_append(_rows(spark, [(2, "b")]), "log", None)
        store.publish_append(_rows(spark, [(3, "c")]), "log", None)
        assert store.read(spark, "log").count() == 3, mode
        # folding the adhoc deltas keeps them all and later appends land
        store.fold_deltas(spark, "log")
        assert store.read(spark, "log").count() == 3, mode
        store.publish_append(_rows(spark, [(4, "d")]), "log", None)
        assert store.read(spark, "log").count() == 4, mode
        # numbered stream batches still replay-guard as before
        store.publish_append(_rows(spark, [(5, "e")]), "log", 9)
        store.publish_append(_rows(spark, [(5, "e")]), "log", 9)
        assert store.read(spark, "log").count() == 5, mode


def test_quality_gate_null_text_quarantined_not_vanished(spark, tmp_path):
    """The r6 ADVICE low: a non-delete image with NULL text evaluates
    every gate flag to NULL — it must land in the quarantine with the
    null_text audit flag, never silently vanish from BOTH channels."""
    import json

    good = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away with many other curious animals wandering nearby today")

    def env(doc_id, text, op, ts):
        return json.dumps({
            "before": None,
            "after": {"doc_id": doc_id, "text": text},
            "source": {"db": "corpus", "table": "documents", "ts_ms": ts},
            "op": op, "ts_ms": ts,
        })

    batch = spark.createDataFrame(
        [(env(1, good, "c", 100),), (env(2, None, "c", 100),)],
        "value string",
    )
    for mode, store in (
        ("cow", ParquetTargetStore(str(tmp_path / "cow"))),
        ("mor", MergeOnReadTargetStore(str(tmp_path / "mor"))),
    ):
        proc = CdcBatchProcessor(
            spark,
            [SyncRule(db="corpus", table="documents", primary_key=("doc_id",),
                      quality_gate=True)],
            store,
        )
        proc.process_batch(batch, 0)
        tgt = {r.doc_id for r in store.read(spark, "documents").collect()}
        assert tgt == {1}, mode  # the NULL-text image never lands
        rej = store.read(spark, "documents_rejected").collect()
        assert [(r.doc_id, r.null_text) for r in rej] == [(2, True)], mode


def test_routing_census_applies_parser_predicates(spark, tmp_path):
    """The r6 ADVICE low: the routing census must apply the fused
    parser's op/record-type/array predicates, or a batch holding ONLY an
    op-filtered event for a table (census>0, parse empty) publishes
    empty target versions and flips pointers for a batch that
    contributed nothing."""
    import json

    def dbz(table, op, pid):
        return json.dumps({
            "before": None, "after": {"pid": pid, "val": "x"},
            "source": {"db": "d", "table": table, "ts_ms": 1},
            "op": op, "ts_ms": 1,
        })

    rules = [
        SyncRule(db="d", table="ta", primary_key=("pid",)),
        SyncRule(db="d", table="tb", primary_key=("pid",)),
    ]
    store = ParquetTargetStore(str(tmp_path / "s"))
    proc = CdcBatchProcessor(spark, rules, store)
    # ta gets ONLY an unknown-op event (op-filtered by the parser);
    # tb gets a real insert — two rules so the census path is active
    batch = spark.createDataFrame(
        [(dbz("ta", "x", 1),), (dbz("tb", "c", 2),)], "value string"
    )
    statuses = {s.table: s.status for s in proc.process_batch(batch, 0)}
    assert statuses == {"ta": "no-data", "tb": "finished"}
    assert not store.exists("ta")  # no empty version / pointer flip
    assert store.read(spark, "tb").count() == 1

    # CANAL: a type-filtered DDL-ish event and an empty-data[] event must
    # both census to zero (posexplode of data[] yields no rows)
    def canal(table, typ, data):
        return json.dumps({
            "database": "d", "table": table, "type": typ, "ts": 1,
            "data": data, "pkNames": ["pid"],
        })

    cproc = CdcBatchProcessor(
        spark,
        [SyncRule(db="d", table="ca", primary_key=("pid",)),
         SyncRule(db="d", table="cb", primary_key=("pid",))],
        ParquetTargetStore(str(tmp_path / "c")),
        cdc_format="CANAL-CDC",
    )
    cbatch = spark.createDataFrame(
        [(canal("ca", "CREATE", None),),          # DDL: type-filtered
         (canal("ca", "INSERT", []),),            # empty data[]
         (canal("cb", "INSERT", [{"pid": 1, "val": "y"}]),)],
        "value string",
    )
    cstat = {s.table: s.status for s in cproc.process_batch(cbatch, 0)}
    assert cstat == {"ca": "no-data", "cb": "finished"}
    assert not cproc.store.exists("ca")

    # DMS: a table that receives only control records censuses to zero
    # (one carries a valid operation, so only the control rule drops it)
    def dms(table, rtype, op):
        return json.dumps({
            "data": {"pid": 1, "val": "z"},
            "metadata": {"timestamp": "2024-01-01 00:00:00",
                         "record-type": rtype, "operation": op,
                         "schema-name": "d", "table-name": table},
        })

    dproc = CdcBatchProcessor(
        spark,
        [SyncRule(db="d", table="da", primary_key=("pid",)),
         SyncRule(db="d", table="db", primary_key=("pid",))],
        ParquetTargetStore(str(tmp_path / "d")),
        cdc_format="DMS-CDC",
    )
    dbatch = spark.createDataFrame(
        [(dms("da", "control", "create-table"),),
         (dms("da", "control", "insert"),),
         (dms("db", "data", "insert"),)],
        "value string",
    )
    dstat = {s.table: s.status for s in dproc.process_batch(dbatch, 0)}
    assert dstat == {"da": "no-data", "db": "finished"}
    assert not dproc.store.exists("da")

    # MONGO: a collection that receives only an unknown operationType
    def mongo(coll, op):
        return json.dumps({
            "operationType": op, "fullDocument": json.dumps({"pid": 1}),
            "documentKey": json.dumps({"_id": 1}),
            "ns": {"db": "d", "coll": coll}, "ts_ms": 1,
        })

    mproc = CdcBatchProcessor(
        spark,
        [SyncRule(db="d", table="ma", primary_key=("doc_id",)),
         SyncRule(db="d", table="mb", primary_key=("doc_id",))],
        ParquetTargetStore(str(tmp_path / "m")),
        cdc_format="MONGO-CDC",
    )
    mbatch = spark.createDataFrame(
        [(mongo("ma", "invalidate"),), (mongo("mb", "insert"),)],
        "value string",
    )
    mstat = {s.table: s.status for s in mproc.process_batch(mbatch, 0)}
    assert mstat == {"ma": "no-data", "mb": "finished"}
    assert not mproc.store.exists("ma")


def test_prune_versions_retention(spark, tmp_path):
    """The version-chain retention knob (r10 CoW churn audit): pruning
    keeps the newest `keep` dirs, never touches the pointer's version,
    leaves a crashed publish's orphan dir alone, and the pruned table
    reads back identically."""
    import os

    store = ParquetTargetStore(str(tmp_path))
    for i in range(5):
        store.publish(_rows(spark, [(1, f"v{i}")]), "t", batch_id=i)
    assert store.current_version("t") == 4
    assert store.versions_on_disk("t") == [0, 1, 2, 3, 4]

    assert store.prune_versions("t", keep=2) == [0, 1, 2]
    assert store.versions_on_disk("t") == [3, 4]
    got = store.read(spark, "t").collect()
    assert [(r.pid, r.val) for r in got] == [(1, "v4")]
    # batch-id replay guard untouched by pruning
    assert store.last_batch_id("t") == 4

    # keep floors at 1 and never deletes the current version
    assert store.prune_versions("t", keep=0) == [3]
    assert store.versions_on_disk("t") == [4]
    assert store.read(spark, "t").count() == 1

    # an orphan dir NEWER than the pointer (crashed publish, no flip)
    # survives pruning — the next publish overwrites it
    orphan = os.path.join(str(tmp_path), "t", "version=9")
    os.makedirs(orphan)
    assert store.prune_versions("t", keep=1) == []
    assert os.path.isdir(orphan)


def test_processor_retention_defaults_bounded_without_compaction(spark, tmp_path):
    """r11 default flip: a processor with NO compaction cadence and NO
    explicit keep_versions still bounds the copy-on-write version chain
    (newest 2) after every batch — a long-running job must opt INTO
    unbounded history (keep_versions=None/'all'/0), never fall into it."""
    import json

    root = tmp_path / "store_default"
    store = ParquetTargetStore(str(root))
    rule = SyncRule(db="d", table="t", primary_key=("pid",))
    # grace=0: the default 300 s reader-grace window (r11 ADVICE) would
    # keep every toy-run version alive; the retention BOUND under test
    # needs the prune to act immediately
    proc = CdcBatchProcessor(spark, [rule], store, prune_grace_sec=0)
    assert proc.keep_versions == 2
    # the reader-grace default itself (and its validation)
    assert CdcBatchProcessor(spark, [rule], store).prune_grace_sec == 300.0
    with pytest.raises(ValueError, match="prune_grace_sec"):
        CdcBatchProcessor(spark, [rule], store, prune_grace_sec=-1)
    for b in range(5):
        batch = spark.createDataFrame(
            [(json.dumps({
                "before": None,
                "after": {"pid": 1, "val": f"v{b}"},
                "source": {"db": "d", "table": "t"},
                "op": "u", "ts_ms": b,
            }),)], "value string",
        )
        proc.process_batch(batch, b)
        assert len(store.versions_on_disk(rule.target_name)) <= 2
    assert proc.compact_errors == []
    live = store.read(spark, rule.target_name)
    assert [(r.pid, r.val) for r in live.collect()] == [(1, "v4")]
    # string and zero spellings of the opt-out normalize to keep-all
    assert CdcBatchProcessor(
        spark, [rule], store, keep_versions="all"
    ).keep_versions is None
    assert CdcBatchProcessor(
        spark, [rule], store, keep_versions=0
    ).keep_versions is None
    assert CdcBatchProcessor(
        spark, [rule], store, keep_versions="3"
    ).keep_versions == 3
    with pytest.raises(ValueError, match="keep_versions"):
        CdcBatchProcessor(spark, [rule], store, keep_versions=-1)


def test_processor_keep_versions_prunes_on_compaction_cycle(spark, tmp_path):
    """keep_versions wires prune_versions into the job's maintenance
    cycle: after the compaction batch, the target's chain is at most
    keep_versions dirs; without the knob the chain keeps everything.
    The maintenance enumeration covers EVERY table the shell publishes —
    here a stats rule's derived tables (event and current-state) —
    so none of them leaks one version dir per batch."""
    import json
    import os

    for keep, expect_bounded in ((2, True), (None, False)):
        root = tmp_path / f"store_{keep}"
        store = ParquetTargetStore(str(root))
        rule = SyncRule(db="d", table="t", primary_key=("pid",))
        srule = SyncRule(
            db="d", table="s", primary_key=("sid",),
            stats_group_columns=("grp",), stats_value_column="amt",
            stats_distinct_column="amt", stats_quantile_column="amt",
            stats_topk_column="amt", stats_sample_column="amt",
            stats_bloom_column="amt", stats_current_state=True,
        )
        proc = CdcBatchProcessor(
            spark, [rule, srule], store,
            compact_every_n_batches=3, keep_versions=keep,
            prune_grace_sec=0,  # toy run: prune must act immediately
        )
        # 6 batches = exactly two compaction cycles (every 3); since r11
        # retention is also enforced per batch, the bounded variant's
        # chain never exceeds keep_versions even between cycles
        for b in range(6):
            batch = spark.createDataFrame(
                [(json.dumps({
                    "before": None,
                    "after": {"pid": 1, "val": f"v{b}"},
                    "source": {"db": "d", "table": "t"},
                    "op": "u", "ts_ms": b,
                }),), (json.dumps({
                    "before": None,
                    "after": {"sid": b, "grp": f"g{b % 2}", "amt": b},
                    "source": {"db": "d", "table": "s"},
                    "op": "c", "ts_ms": b,
                }),)], "value string",
            )
            proc.process_batch(batch, b)
        assert proc.compact_errors == []
        chain = store.versions_on_disk(rule.target_name)
        if expect_bounded:
            assert len(chain) <= 2, chain
        else:
            assert len(chain) > 2, chain
        tables = set(proc._maintained_tables())
        on_disk = {d for d in os.listdir(root) if not d.startswith("_")}
        assert on_disk == tables
        assert {"s_stats", "s_topk", "s_bloom", "s_state_qsketch"} <= tables
        if expect_bounded:
            chains = {t: store.versions_on_disk(t) for t in tables}
            assert all(len(c) <= 2 for c in chains.values()), chains
        live = store.read(spark, rule.target_name)
        assert [(r.pid, r.val) for r in live.collect()] == [(1, "v5")]


def test_append_log_compact_refuses_concurrent_append(spark, tmp_path):
    """The r11 universal pre-swap recheck, unit-level: a batch that
    commits to the manifest WHILE compact's rewrite is running (here:
    injected from inside the transform, exactly the window between the
    entry read and the swap) makes the swap REFUSE with state unchanged
    — the interleaved batch keeps its data and its replay-guard id —
    and the re-run (now seeing the batch) succeeds."""
    from kafka_cdc_redshift_spark.streaming.store import AppendLog

    log = AppendLog(str(tmp_path / "log"))
    log.append(_rows(spark, [(1, "a")]), "t", 0)
    log.append(_rows(spark, [(2, "b")]), "t", 1)

    def sneak_append(df):
        log.append(_rows(spark, [(3, "c")]), "t", 2)
        return df

    with pytest.raises(RuntimeError, match="concurrent append"):
        log.compact(spark, "t", min_segments=1, transform=sneak_append)
    # nothing lost: all three batches committed, all rows readable
    assert log.committed("t") == [0, 1, 2]
    assert log.read(spark, "t").count() == 3
    # the re-run (no interleaver) merges all three
    assert log.compact(spark, "t", min_segments=1, transform=lambda d: d) == 3
    assert log.committed("t") == [0, 1, 2]
    assert log.read(spark, "t").count() == 3
    assert log.segments("t") == ["seg=0"]


def test_append_log_compact_expect_batches_fence(spark, tmp_path):
    """The rebuild-from-source fence, unit-level: expect_batches
    captured BEFORE a batch landed makes compact refuse up front (the
    replacement was derived from stale state); the current id list
    passes."""
    from kafka_cdc_redshift_spark.streaming.store import AppendLog

    log = AppendLog(str(tmp_path / "log"))
    log.append(_rows(spark, [(1, "a")]), "t", 0)
    stale_fence = list(log.committed("t"))
    log.append(_rows(spark, [(2, "b")]), "t", 1)
    with pytest.raises(RuntimeError, match="committed batches changed"):
        log.compact(spark, "t", min_segments=1,
                    transform=lambda d: d, expect_batches=stale_fence)
    assert log.committed("t") == [0, 1]
    assert log.read(spark, "t").count() == 2
    log.compact(spark, "t", min_segments=1, transform=lambda d: d,
                expect_batches=[0, 1])
    assert log.read(spark, "t").count() == 2


def test_maintenance_marker_api(tmp_path):
    """Marker lifecycle with OWNERSHIP (r11 ADVICE): begin returns a
    per-run nonce; a standing marker refuses even the SAME op unless
    force=True (crash recovery is explicit — two LIVE runs of one
    migration must never both proceed); a different op always refuses;
    end with a nonce clears only the marker that run owns."""
    from kafka_cdc_redshift_spark.streaming.store import AppendLog

    log = AppendLog(str(tmp_path / "log"))
    assert log.active_maintenance("x") is None
    log.check_no_maintenance("x")  # no marker: no-op
    nonce = log.begin_maintenance("x", "migrate_a")
    assert isinstance(nonce, str) and nonce
    assert log.active_maintenance("x") == "migrate_a"
    with pytest.raises(RuntimeError, match="maintenance"):
        log.check_no_maintenance("x")
    # a second live run of the SAME op refuses without force...
    with pytest.raises(RuntimeError, match="force=True"):
        log.begin_maintenance("x", "migrate_a")
    # ...a different op refuses regardless, force or not
    with pytest.raises(RuntimeError, match="migrate_a"):
        log.begin_maintenance("x", "migrate_b")
    with pytest.raises(RuntimeError, match="migrate_a"):
        log.begin_maintenance("x", "migrate_b", force=True)
    # explicit crash-recovery takeover mints a NEW owner: the old run's
    # nonce can no longer clear the marker (it would resume ingest under
    # the new owner's half-swap)
    nonce2 = log.begin_maintenance("x", "migrate_a", force=True)
    assert nonce2 != nonce
    with pytest.raises(RuntimeError, match="owned by another run"):
        log.end_maintenance("x", nonce)
    assert log.active_maintenance("x") == "migrate_a"
    # scopes are independent
    ny = log.begin_maintenance("y", "other")
    log.end_maintenance("x", nonce2)
    assert log.active_maintenance("x") is None
    assert log.active_maintenance("y") == "other"
    log.end_maintenance("y", ny)
    log.end_maintenance("y", ny)  # idempotent once cleared
    # nonce=None is the unconditional clear (crash-recovery tooling)
    log.begin_maintenance("z", "migrate_c")
    log.end_maintenance("z")
    assert log.active_maintenance("z") is None


# ---------------------------------------------------------------------------
# hypothesis: version-chain retention vs a model (r11 default-flip safety)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_CHAIN_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("publish"), st.just(0)),
        st.tuples(st.just("prune"), st.integers(1, 3)),
        st.tuples(st.just("orphan"), st.just(0)),
    ),
    min_size=3,
    max_size=8,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(ops=_CHAIN_OPS)
def test_cow_chain_retention_state_machine(spark, tmp_path_factory, ops):
    """Any interleaving of publishes, prunes, and crashed-publish orphan
    dirs keeps (1) read == the LAST published content, (2) the replay
    guard (pointer batch_id) == the last publish's id, (3) after
    prune(keep=k) the on-disk chain holds exactly the newest
    min(k, published) pointer-eligible versions, and (4) orphan dirs
    NEWER than the pointer are never pruned (the next publish owns
    them)."""
    import os

    store = ParquetTargetStore(str(tmp_path_factory.mktemp("chain")))
    published = 0
    orphans: set[int] = set()
    last_keep: int | None = None
    for i, (op, arg) in enumerate(ops):
        if op == "publish":
            published += 1
            store.publish(
                _rows(spark, [(1, f"v{published}")]), "t",
                batch_id=published,
            )
            # a publish may overwrite an orphan dir at its own version
            orphans = {o for o in orphans
                       if o > (store.current_version("t") or -1)}
            last_keep = None
        elif op == "prune":
            pruned = store.prune_versions("t", keep=arg)
            last_keep = arg
            assert all(isinstance(v, int) for v in pruned)
        elif op == "orphan":
            cur = store.current_version("t")
            v = (cur if cur is not None else -1) + 3 + i
            os.makedirs(os.path.join(str(store.root), "t", f"version={v}"),
                        exist_ok=True)
            orphans.add(v)

        cur = store.current_version("t")
        if published == 0:
            continue
        # (1) + (2): content and replay guard track the LAST publish
        rows = [(r.pid, r.val) for r in store.read(spark, "t").collect()]
        assert rows == [(1, f"v{published}")]
        assert store.last_batch_id("t") == published
        # (3) + (4): chain = suffix of pointer-eligible versions + orphans
        chain = store.versions_on_disk("t")
        assert cur in chain
        eligible = [v for v in chain if v <= cur]
        if last_keep is not None:
            assert len(eligible) <= last_keep or len(eligible) == 1
            assert eligible == sorted(eligible)
            assert eligible[-1] == cur
        assert orphans <= set(chain)


def test_prune_versions_reader_grace_window(spark, tmp_path):
    """r12: the reader grace is measured from SUPERSESSION (successor
    dir mtime), not creation — a version that stayed current for an
    hour then got superseded by a burst still gets the full grace — and
    `grace_max_versions` hard-caps how many below-floor versions the
    grace can protect, bounding steady-state storage at
    keep + grace_max copies even under a fast trigger."""
    import os

    def backdate(v, secs):
        d = os.path.join(str(tmp_path), "t", f"version={v}")
        t = os.path.getmtime(d) - secs
        os.utime(d, (t, t))

    store = ParquetTargetStore(str(tmp_path))
    for i in range(5):
        store.publish(_rows(spark, [(1, f"v{i}")]), "t", batch_id=i)
    # every successor was just written: a 1-hour grace protects all the
    # below-floor versions (0,1,2) regardless of their own age
    backdate(0, 7200)  # v0 itself is OLD, but superseded only now
    assert store.prune_versions("t", keep=2, min_age_sec=3600) == []
    assert store.versions_on_disk("t") == [0, 1, 2, 3, 4]

    # age the SUCCESSORS of 0 and 1 past the window: exactly those two
    # become prunable (v2's successor v3 is still fresh)
    backdate(1, 7200)
    backdate(2, 7200)
    assert store.prune_versions("t", keep=2, min_age_sec=3600) == [0, 1]
    assert store.versions_on_disk("t") == [2, 3, 4]

    # grace never overrides the count floor the other way: versions in
    # the newest `keep` are never candidates at all
    backdate(3, 7200)
    backdate(4, 7200)
    assert store.prune_versions("t", keep=2, min_age_sec=3600) == [2]
    assert store.versions_on_disk("t") == [3, 4]


def test_prune_versions_grace_storage_cap(spark, tmp_path):
    """The grace window must BOUND storage, not unbound it (r12 review):
    with a fast trigger every version is superseded seconds after birth
    and an uncapped grace would hold grace/trigger full-corpus copies.
    grace_max_versions keeps only the newest-superseded N protected."""
    store = ParquetTargetStore(str(tmp_path))
    for i in range(8):
        store.publish(_rows(spark, [(1, f"v{i}")]), "t", batch_id=i)
    # all 6 below-floor versions are freshly superseded; cap at 2 ->
    # the oldest 4 prune anyway, storage bounded at keep + cap = 4 dirs
    pruned = store.prune_versions(
        "t", keep=2, min_age_sec=3600, grace_max_versions=2
    )
    assert pruned == [0, 1, 2, 3]
    assert store.versions_on_disk("t") == [4, 5, 6, 7]
    # cap 0 = grace disabled in effect
    assert store.prune_versions(
        "t", keep=2, min_age_sec=3600, grace_max_versions=0
    ) == [4, 5]
    assert store.versions_on_disk("t") == [6, 7]


def test_maintenance_marker_simultaneous_begin_race(tmp_path):
    """r12 review: begin_maintenance must be atomic, not
    check-then-replace — two SIMULTANEOUS begins of the same op must
    yield exactly one owner (the other refuses with the force=True
    message), or both migrations would proceed and race the swap."""
    import concurrent.futures as cf
    import threading

    from kafka_cdc_redshift_spark.streaming.store import AppendLog

    log = AppendLog(str(tmp_path / "log"))
    barrier = threading.Barrier(2)

    def contend(_):
        barrier.wait()
        try:
            return ("won", log.begin_maintenance("x", "migrate_a"))
        except RuntimeError as e:
            return ("refused", str(e))

    for _ in range(10):  # the race window is narrow: iterate
        log.end_maintenance("x")
        with cf.ThreadPoolExecutor(max_workers=2) as pool:
            results = list(pool.map(contend, range(2)))
        outcomes = sorted(r[0] for r in results)
        assert outcomes == ["refused", "won"], results
        refused = next(r for r in results if r[0] == "refused")
        assert "force=True" in refused[1]


# -- schema-carrying version pointers ---------------------------------------
def _assert_pointer_read_matches_inference(spark, store, table):
    """`store.read` opens the version with the schema its pointer recorded;
    that must equal what schema inference gives (all fields nullable, as
    parquet holds them) and return the same rows."""
    import json
    import os

    with open(os.path.join(store.root, table, "_current.json")) as f:
        assert "schema" in json.load(f)
    got = store.read(spark, table)
    inferred = spark.read.parquet(store.path(table))
    assert got.schema == inferred.schema
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, inferred.collect()), key=repr
    )
    return got


def test_pointer_schema_plain_publish(spark, tmp_path):
    from pyspark.sql import functions as F

    store = ParquetTargetStore(str(tmp_path / "s"))
    # non-nullable top-level, struct, array-element and map-value fields
    df = spark.range(3).select(
        F.col("id").alias("pid"),
        F.struct(F.col("id").alias("x")).alias("s"),
        F.array(F.col("id")).alias("a"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
    )
    assert not df.schema["pid"].nullable
    store.publish(df, "t")
    got = _assert_pointer_read_matches_inference(spark, store, "t")
    assert got.schema["pid"].nullable
    assert got.schema["a"].dataType.containsNull


def test_pointer_schema_evolved_target(spark, tmp_path):
    """The shape of test_schema_evolution_adds_and_drops_columns: the
    second version's pointer carries the evolved schema (a dropped, b
    added), not the first's."""
    import json

    from pyspark.sql import types as T

    store = ParquetTargetStore(str(tmp_path / "store"))
    v1 = T.StructType([T.StructField("pid", T.LongType()),
                       T.StructField("a", T.StringType())])
    v2 = T.StructType([T.StructField("pid", T.LongType()),
                       T.StructField("b", T.LongType())])
    rule = SyncRule(db="d", table="t", primary_key=("pid",))

    def env(after, ts):
        return json.dumps({"before": None, "after": after, "op": "c",
                           "source": {"db": "d", "table": "t"}, "ts_ms": ts})

    for i, (schema, after) in enumerate(
        [(v1, {"pid": 1, "a": "x"}), (v2, {"pid": 2, "b": 9})]
    ):
        CdcBatchProcessor(
            spark, [rule], store, payload_schemas={"t": schema}
        ).process_batch(
            spark.createDataFrame([(env(after, i + 1),)], "value string"), i
        )
    got = _assert_pointer_read_matches_inference(spark, store, "t")
    assert got.columns == ["pid", "b"]
    assert {r.pid: r.b for r in got.collect()} == {1: None, 2: 9}


def test_pointer_schema_after_compaction(spark, tmp_path):
    store = ParquetTargetStore(str(tmp_path / "s"))
    store.publish(_many_files(_rows(spark, [(i, "x") for i in range(50)])), "t")
    v = compact_table(store, spark, "t", target_bytes=1 << 30,
                      min_files_to_compact=2)
    assert v == 1, "compaction must actually run for this test"
    assert _assert_pointer_read_matches_inference(spark, store, "t").count() == 50


def test_pointer_schema_after_append_fold(spark, tmp_path):
    store = ParquetTargetStore(str(tmp_path / "s"))
    store.publish_append(_rows(spark, [(1, "a")]), "log", 0)
    store.publish_append(
        spark.createDataFrame(
            [Row(pid=2, val="b", extra=9)], "pid long, val string, extra long"
        ),
        "log", 1,
    )
    assert store.fold_deltas(spark, "log") == 0
    got = _assert_pointer_read_matches_inference(spark, store, "log")
    assert {r.pid: r.extra for r in got.collect()} == {1: None, 2: 9}


def test_pointer_schema_bucketed_store(spark, tmp_path):
    """Upgrade: a version written pk-bucketed (a `bucketBy` catalog table
    over the version dir, as the retired bucketed target mode wrote it)
    reads back through `ParquetTargetStore` with no catalog entry, and
    the next copy-on-write merge batch publishes over it."""
    import json
    import os

    from kafka_cdc_redshift_spark.streaming.store import _schema_json

    store = ParquetTargetStore(str(tmp_path / "store"))
    df = _rows(spark, [(1, "a"), (2, "b")])
    (
        df.write.mode("overwrite")
        .option("path", os.path.join(store.root, "t", "version=0"))
        .bucketBy(2, "pid")
        .sortBy("pid")
        .saveAsTable("t__v0", format="parquet")
    )
    with open(store._meta_path("t"), "w") as f:
        json.dump({"version": 0, "schema": _schema_json(df)}, f)
    spark.sql("DROP TABLE t__v0")  # external: the version's files stay
    got = _assert_pointer_read_matches_inference(spark, store, "t")
    assert sorted(map(tuple, got.collect())) == [(1, "a"), (2, "b")]

    def event(op, before, after):
        return (json.dumps({
            "before": before, "after": after,
            "source": {"db": "d", "table": "t"}, "op": op, "ts_ms": 10,
        }),)

    batch = spark.createDataFrame([
        event("u", None, {"pid": 1, "val": "c"}),
        event("d", {"pid": 2, "val": "b"}, None),
        event("c", None, {"pid": 3, "val": "d"}),
    ], "value string")
    proc = CdcBatchProcessor(
        spark, [SyncRule(db="d", table="t", primary_key=("pid",))], store
    )
    [status] = proc.process_batch(batch, 0)
    assert status.status == "finished", status
    assert store.current_version("t") == 1
    got = _assert_pointer_read_matches_inference(spark, store, "t")
    assert sorted(map(tuple, got.collect())) == [(1, "c"), (3, "d")]


def test_legacy_pointer_without_schema_still_reads(spark, tmp_path):
    import json

    store = ParquetTargetStore(str(tmp_path / "s"))
    store.publish(_rows(spark, [(1, "a"), (2, "b")]), "t", batch_id=4)
    with open(store._meta_path("t"), "w") as f:
        json.dump({"version": 0, "batch_id": 4}, f)
    got = store.read(spark, "t")
    assert got.schema == spark.read.parquet(store.path("t")).schema
    assert sorted(r.pid for r in got.collect()) == [1, 2]
    assert store.last_batch_id("t") == 4
    # the next publish records a schema again
    store.publish(_rows(spark, [(3, "c")]), "t")
    _assert_pointer_read_matches_inference(spark, store, "t")


# -- schema-carrying AppendLog manifests ------------------------------------
def _manifest(log, table):
    import json

    with open(log._manifest_path(table)) as f:
        return json.load(f)


def _strip_schemas(log, table):
    """Rewrite `table`'s manifest as one written before segment schemas
    were recorded."""
    import json

    m = _manifest(log, table)
    del m["schemas"]
    with open(log._manifest_path(table), "w") as f:
        json.dump(m, f)


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_append_log_manifest_without_schemas_still_reads(spark, tmp_path):
    """A manifest with no recorded schemas (a pre-upgrade state) reads
    the same rows by inference; the next append records its segment's
    schema, and a compaction leaves one segment with one schema."""
    import os

    from kafka_cdc_redshift_spark.streaming.store import AppendLog

    log = AppendLog(str(tmp_path / "log"))
    for b in range(3):
        log.append(_rows(spark, [(b, f"v{b}")]), "t", b)
    m = _manifest(log, "t")
    assert list(m["schemas"]) == m["segments"]
    want = _sorted_rows(log.read(spark, "t"))
    _strip_schemas(log, "t")
    got = log.read(spark, "t")
    assert got.schema == spark.read.parquet(
        *(os.path.join(log.root, "t", s) for s in log.segments("t"))
    ).schema
    assert _sorted_rows(got) == want

    log.append(_rows(spark, [(3, "v3")]), "t", 3)
    assert list(_manifest(log, "t")["schemas"]) == ["batch=3"]
    assert _sorted_rows(log.read(spark, "t")) == want + [(3, "v3")]
    assert log.compact(spark, "t", min_segments=2) == 4
    m = _manifest(log, "t")
    assert m["segments"] == ["seg=0"] and list(m["schemas"]) == ["seg=0"]
    assert _sorted_rows(log.read(spark, "t")) == want + [(3, "v3")]
    assert log.committed("t") == [0, 1, 2, 3]


def test_mor_deltas_without_schemas_still_read(spark, tmp_path):
    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    schema = "pid long, val string, op string, ts_ms long"
    store.publish_delta(
        spark.createDataFrame([(1, "a", "c", 1), (2, "b", "c", 1)], schema),
        "t", 0, keys=["pid"],
    )
    store.publish_delta(
        spark.createDataFrame([(2, None, "d", 2), (3, "c", "c", 2)], schema),
        "t", 1, keys=["pid"],
    )
    want = store.read(spark, "t")
    want_rows = _sorted_rows(want)
    assert want_rows == [(1, "a"), (3, "c")]
    _strip_schemas(store._delta, "t")
    got = store.read(spark, "t")
    assert got.schema == want.schema and _sorted_rows(got) == want_rows


def test_append_log_schemas_follow_segments(spark, tmp_path):
    """`retire` and `compact` drop the schema entries of the segments
    they remove: the manifest records a schema for exactly its listed
    segments."""
    from kafka_cdc_redshift_spark.streaming.store import AppendLog

    log = AppendLog(str(tmp_path / "log"))
    for b in range(4):
        log.append(_rows(spark, [(b, f"v{b}")]), "t", b)
    log.retire("t", [0, 1])
    m = _manifest(log, "t")
    assert m["segments"] == ["batch=2", "batch=3"]
    assert list(m["schemas"]) == m["segments"]
    assert log.compact(spark, "t", min_segments=2) == 2
    m = _manifest(log, "t")
    assert m["segments"] == ["seg=0"] and list(m["schemas"]) == ["seg=0"]
    assert _sorted_rows(log.read(spark, "t")) == [(2, "v2"), (3, "v3")]


def test_mor_delta_added_column_reads_like_inference(spark, tmp_path):
    """Each delta opens with its own recorded schema: a delta that adds
    a column resolves exactly as the inferred read does, the older
    delta's rows null-filled."""
    store = MergeOnReadTargetStore(str(tmp_path / "mor"))
    store.publish_delta(
        spark.createDataFrame(
            [(1, "a", "c", 1), (2, "b", "c", 1)],
            "pid long, val string, op string, ts_ms long",
        ),
        "t", 0, keys=["pid"],
    )
    store.publish_delta(
        spark.createDataFrame(
            [(3, "c", 9, "c", 2)],
            "pid long, val string, extra long, op string, ts_ms long",
        ),
        "t", 1, keys=["pid"],
    )
    m = _manifest(store._delta, "t")
    assert m["schemas"]["batch=0"] != m["schemas"]["batch=1"]
    got = store.read(spark, "t")
    _strip_schemas(store._delta, "t")
    inferred = store.read(spark, "t")
    assert got.schema == inferred.schema
    assert _sorted_rows(got) == _sorted_rows(inferred)
    assert {r.pid: r.extra for r in got.collect()} == {1: None, 2: None, 3: 9}


def test_task_rows_equal_target_rows(spark, tmp_path):
    """`TaskStatus.rows` is observed on the publish write; it equals the
    target's row count, 0 included (a batch deleting every key), and the
    observation never blocks the batch."""
    import json

    rule = SyncRule(db="d", table="t", primary_key=("pid",))
    store = ParquetTargetStore(str(tmp_path / "s"))
    schema = spark.createDataFrame([], "pid long, val string").schema
    proc = CdcBatchProcessor(spark, [rule], store, payload_schemas={"t": schema})

    def batch(*events):
        return spark.createDataFrame(
            [(json.dumps({
                "before": {"pid": p, "val": v} if op == "d" else None,
                "after": None if op == "d" else {"pid": p, "val": v},
                "source": {"db": "d", "table": "t"}, "op": op, "ts_ms": ts,
            }),) for p, v, op, ts in events],
            "value string",
        )

    batches = [
        batch((1, "a", "c", 1), (2, "b", "c", 1), (3, "c", "c", 1)),
        batch((2, "b2", "u", 2), (4, "d", "c", 2), (1, "a", "d", 2)),
        batch((2, "b2", "d", 3), (3, "c", "d", 3), (4, "d", "d", 3)),
    ]
    for i, b in enumerate(batches):
        [status] = proc.process_batch(b, i, batch_timeout_sec=300)
        assert status.status == "finished"
        assert status.rows == store.read(spark, "t").count()
    assert status.rows == 0
