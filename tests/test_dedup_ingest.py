"""Streaming near-dup ingest (streaming/dedup_ingest.py) + its AppendLog
state backend: streamed batch-by-batch ingest must report EXACTLY the
pair set of a one-shot minhash_lsh_pairs rebuild over the full corpus
(cross-batch pairs via the doc-free incremental step, within-batch pairs
via the batch-local pass), replays must be no-ops, and the e2e CDC shell
wiring (per-rule `dedup_ingest` flag) must produce the same result
through a real file-backed stream."""

import pytest
from pyspark.sql import functions as F

from kafka_cdc_redshift_spark.functions import dedup_text
from kafka_cdc_redshift_spark.sources import load_table
from kafka_cdc_redshift_spark.streaming.dedup_ingest import DedupIngest
from kafka_cdc_redshift_spark.streaming.store import AppendLog

# multi-minute churn/e2e module: marked slow, but it runs in the default
# suite like every test; deselect it for a quick loop with -m "not slow"
pytestmark = pytest.mark.slow


def _pair_key(r):
    return (r.doc_a, r.doc_b, round(r.jaccard, 9))


# ---------------------------------------------------------------------------
# AppendLog
# ---------------------------------------------------------------------------

def test_append_log_roundtrip_and_idempotency(spark, tmp_path):
    log = AppendLog(str(tmp_path / "log"))
    assert log.read(spark, "t") is None
    b0 = spark.createDataFrame([(1, "a")], "k long, v string")
    b1 = spark.createDataFrame([(2, "b")], "k long, v string")
    log.append(b0, "t", 0)
    log.append(b1, "t", 1)
    assert log.committed("t") == [0, 1]
    got = {(r.k, r.v) for r in log.read(spark, "t").collect()}
    assert got == {(1, "a"), (2, "b")}
    # re-appending a committed batch is a no-op, even with different data
    log.append(spark.createDataFrame([(9, "z")], "k long, v string"), "t", 1)
    assert log.read(spark, "t").count() == 2
    assert log.committed("t") == [0, 1]


def test_append_log_uncommitted_dirs_invisible(spark, tmp_path):
    """A crash between the parquet write and the manifest commit leaves a
    directory the reader must NOT see (the atomicity contract)."""
    log = AppendLog(str(tmp_path / "log"))
    log.append(spark.createDataFrame([(1,)], "k long"), "t", 0)
    # simulate: batch dir written, manifest commit never happened
    orphan = spark.createDataFrame([(99,)], "k long")
    orphan.write.mode("overwrite").parquet(str(tmp_path / "log" / "t" / "batch=7"))
    assert log.read(spark, "t").count() == 1
    assert not log.has_batch("t", 7)
    # the retry overwrites the orphan in place and commits it
    log.append(spark.createDataFrame([(2,)], "k long"), "t", 7)
    got = {r.k for r in log.read(spark, "t").collect()}
    assert got == {1, 2}


# ---------------------------------------------------------------------------
# DedupIngest: streamed == one-shot rebuild, replay no-op
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_streamed_ingest_equals_one_shot_rebuild(spark, docs, tmp_path):
    want = sorted(map(_pair_key, dedup_text.minhash_lsh_pairs(docs).collect()))
    assert want, "fixture must contain near-dup pairs for this test to bite"

    ing = DedupIngest(AppendLog(str(tmp_path / "state")), name="docs")
    # 3 ingest batches; mod-split puts near-dup pairs BOTH across batches
    # and (for equal residues) within one batch, so both paths are load-
    # bearing in the equality below
    for b in range(3):
        ing.process_batch(docs.filter(F.col("doc_id") % 3 == b), b)
    got = sorted(map(_pair_key, ing.pairs(spark).collect()))
    assert got == want

    # a pair is found exactly once (no batch re-reports corpus pairs)
    n_pairs = ing.pairs(spark).count()
    assert n_pairs == ing.pairs(spark).dropDuplicates(["doc_a", "doc_b"]).count()


def test_streamed_ingest_within_batch_pairs_found(spark, docs, tmp_path):
    """One batch containing near-dups INSIDE it: the incremental operator
    alone is blind to them (its contract is batch-vs-corpus); the wiring
    must catch them via the batch-local pass."""
    want = dedup_text.minhash_lsh_pairs(docs).count()
    assert want > 0
    ing = DedupIngest(AppendLog(str(tmp_path / "state")), name="docs")
    ing.process_batch(docs, 0)  # whole corpus as ONE batch
    assert ing.pairs(spark).count() == want


def test_streamed_ingest_replay_is_noop(spark, docs, tmp_path):
    ing = DedupIngest(AppendLog(str(tmp_path / "state")), name="docs")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    ing.process_batch(b0, 0)
    ing.process_batch(b1, 1)
    base = sorted(map(_pair_key, ing.pairs(spark).collect()))
    n_bands = ing.log.read(spark, ing.bands_table).count()
    # at-least-once: the checkpoint retries batch 1 — everything already
    # committed, so state must be byte-identical
    ing.process_batch(b1, 1)
    assert sorted(map(_pair_key, ing.pairs(spark).collect())) == base
    assert ing.log.read(spark, ing.bands_table).count() == n_bands


def test_ingest_partial_commit_heals_on_retry(spark, docs, tmp_path):
    """Crash after the pairs commit but before bands/sketches: the retry
    must finish folding the batch in WITHOUT changing the pair set
    (idempotent per-step commits, corpus state unchanged until the
    batch's own bands land)."""
    ing = DedupIngest(AppendLog(str(tmp_path / "state")), name="docs")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    ing.process_batch(b0, 0)

    # simulate the partial failure: run batch 1 but forcibly stop after
    # the pairs append by monkeypatching the log's append for bands
    real_append = ing.log.append
    calls = {"n": 0}

    def failing_append(df, table, batch_id):
        if table == ing.bands_table and batch_id == 1:
            calls["n"] += 1
            raise RuntimeError("injected crash before bands commit")
        return real_append(df, table, batch_id)

    ing.log.append = failing_append
    with pytest.raises(RuntimeError, match="injected"):
        ing.process_batch(b1, 1)
    assert calls["n"] == 1
    assert ing.log.has_batch(ing.pairs_table, 1)
    assert not ing.log.has_batch(ing.bands_table, 1)
    ing.log.append = real_append

    ing.process_batch(b1, 1)  # the checkpoint retry
    assert ing.log.has_batch(ing.bands_table, 1)
    assert ing.log.has_batch(ing.sketches_table, 1)
    want = sorted(map(_pair_key, dedup_text.minhash_lsh_pairs(docs).collect()))
    assert sorted(map(_pair_key, ing.pairs(spark).collect())) == want


# ---------------------------------------------------------------------------
# e2e through the CDC shell: per-rule dedup_ingest flag on a file stream
# ---------------------------------------------------------------------------

def test_e2e_cdc_stream_dedup_ingest(spark, sf_dir, tmp_path):
    from kafka_cdc_redshift_spark.config import SyncRule
    from kafka_cdc_redshift_spark.streaming import (
        CdcBatchProcessor,
        ParquetTargetStore,
        run_file_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    # debezium-style envelopes for corpus.documents, insert-only feed
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
        ).alias("value"),
        (F.col("doc_id") % 2).alias("half"),
    )
    src = tmp_path / "topic"
    src.mkdir()
    for half in (0, 1):
        with open(src / f"b{half}.json", "w") as f:
            rows = env.filter(F.col("half") == half).select("value").collect()
            f.write("\n".join(r.value for r in rows) + "\n")

    store = ParquetTargetStore(str(tmp_path / "store"))
    rules = [
        SyncRule(
            db="corpus", table="documents", primary_key=("doc_id",),
            dedup_ingest=True,
        )
    ]
    proc = CdcBatchProcessor(
        spark, rules, store, payload_schemas={"documents": docs.schema},
    )
    q = run_file_stream(
        spark, str(src), proc, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    q.awaitTermination(180)

    ing = proc._ingestor(rules[0], "dedup_ingest")
    got = sorted(map(_pair_key, ing.pairs(spark).collect()))
    want = sorted(
        map(_pair_key, dedup_text.minhash_lsh_pairs(docs).collect())
    )
    assert got == want and want
    # the latest-state target landed too (dedup ingest rides alongside the
    # normal merge, it doesn't replace it)
    assert store.read(spark, "documents").count() == docs.count()


def test_append_log_survives_manifest_tmp_leftover(spark, tmp_path):
    """A crash during the manifest's atomic rewrite can leave a .tmp file
    behind; the log must keep working (os.replace semantics) and the next
    commit must not resurrect or lose batches."""
    import os

    log = AppendLog(str(tmp_path / "log"))
    log.append(spark.createDataFrame([(1,)], "k long"), "t", 0)
    # leftover tmp from a crashed writer — stale content
    with open(os.path.join(str(tmp_path / "log"), "t", "_manifest.json.tmp"), "w") as f:
        f.write('{"batches": [999]}')
    log.append(spark.createDataFrame([(2,)], "k long"), "t", 1)
    assert log.committed("t") == [0, 1]
    assert {r.k for r in log.read(spark, "t").collect()} == {1, 2}


# ---------------------------------------------------------------------------
# AppendLog segment compaction (maintenance without forgetting replays)
# ---------------------------------------------------------------------------

def test_append_log_compact_preserves_content_and_replay_guard(spark, tmp_path):
    log = AppendLog(str(tmp_path / "log"))
    for b in range(4):
        log.append(spark.createDataFrame([(b, f"v{b}")], "k long, v string"), "t", b)
    assert len(log.segments("t")) == 4
    assert log.compact(spark, "t", min_segments=8) is None  # below floor
    assert log.compact(spark, "t", min_segments=3) == 4
    assert log.segments("t") == ["seg=0"]
    # content identical, committed ids identical -> has_batch still guards
    got = {(r.k, r.v) for r in log.read(spark, "t").collect()}
    assert got == {(b, f"v{b}") for b in range(4)}
    assert log.committed("t") == [0, 1, 2, 3]
    # a replay delivered AFTER maintenance is still a no-op
    log.append(spark.createDataFrame([(99, "dup")], "k long, v string"), "t", 2)
    assert log.read(spark, "t").count() == 4
    # appends continue after compaction; a second compact merges seg+batches
    log.append(spark.createDataFrame([(4, "v4")], "k long, v string"), "t", 4)
    assert set(log.segments("t")) == {"seg=0", "batch=4"}
    assert log.read(spark, "t").count() == 5
    assert log.compact(spark, "t", min_segments=2) == 2
    assert log.segments("t") == ["seg=1"]
    assert log.read(spark, "t").count() == 5


def test_append_log_retire_refuses_compacted_ids(spark, tmp_path):
    import pytest as _pt

    log = AppendLog(str(tmp_path / "log"))
    for b in range(3):
        log.append(spark.createDataFrame([(b,)], "k long"), "t", b)
    log.append(spark.createDataFrame([(9,)], "k long"), "t", 9)
    log.compact(spark, "t", min_segments=2)
    log.append(spark.createDataFrame([(10,)], "k long"), "t", 10)
    # live batch dir: retire works (the MoR fold contract)
    log.retire("t", [10])
    assert 10 not in log.committed("t")
    assert log.read(spark, "t").count() == 4
    # folded-into-segment id: loud refusal, state unchanged
    with _pt.raises(ValueError, match="compacted segment"):
        log.retire("t", [1])
    assert log.committed("t") == [0, 1, 2, 9]


def test_append_log_legacy_manifest_without_segments(spark, tmp_path):
    """Manifests written before the segments field must read and compact."""
    import json as _json
    import os as _os

    log = AppendLog(str(tmp_path / "log"))
    for b in range(3):
        log.append(spark.createDataFrame([(b,)], "k long"), "t", b)
    # strip the segments/next_seg fields, as an r5-era manifest would be
    mp = log._manifest_path("t")
    m = _json.load(open(mp))
    _json.dump({"batches": m["batches"]}, open(mp, "w"))
    assert log.segments("t") == ["batch=0", "batch=1", "batch=2"]
    assert log.read(spark, "t").count() == 3
    assert log.compact(spark, "t", min_segments=2) == 3
    assert log.read(spark, "t").count() == 3
    assert log.committed("t") == [0, 1, 2]
    assert _os.path.isdir(str(tmp_path / "log" / "t" / "seg=0"))


def test_dedup_ingest_equality_survives_mid_stream_compaction(
    spark, docs, tmp_path
):
    """Ingest, compact the standing state, keep ingesting: the streamed
    pair set still equals the one-shot rebuild, and a replay of a
    pre-compaction batch is still a no-op."""
    want = sorted(map(_pair_key, dedup_text.minhash_lsh_pairs(docs).collect()))
    ing = DedupIngest(AppendLog(str(tmp_path / "state")), name="docs")
    ing.process_batch(docs.filter(F.col("doc_id") % 3 == 0), 0)
    ing.process_batch(docs.filter(F.col("doc_id") % 3 == 1), 1)
    ing.compact_state(spark, min_segments=2)
    n_pairs_mid = ing.pairs(spark).count()
    # replay across maintenance: no-op
    ing.process_batch(docs.filter(F.col("doc_id") % 3 == 0), 0)
    assert ing.pairs(spark).count() == n_pairs_mid
    ing.process_batch(docs.filter(F.col("doc_id") % 3 == 2), 2)
    got = sorted(map(_pair_key, ing.pairs(spark).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# hypothesis: compaction state machine vs a dict model
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# op encoding: ("append", batch_id) | ("replay", slot) | ("compact", floor)
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 9)),
        st.tuples(st.just("replay"), st.integers(0, 9)),
        st.tuples(st.just("compact"), st.integers(1, 4)),
    ),
    min_size=3,
    max_size=8,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(ops=_OPS)
def test_append_log_compaction_state_machine(spark, tmp_path_factory, ops):
    """Any interleaving of appends, replayed appends, and compactions
    keeps (1) the committed id set == a dict model, (2) the read content
    == the model's rows, (3) every replay a no-op — the invariants the
    r5 maintenance/replay bug violated."""
    log = AppendLog(str(tmp_path_factory.mktemp("log")))
    model: dict[int, int] = {}  # batch_id -> payload written FIRST
    nxt = 0
    for op, arg in ops:
        if op == "append":
            payload = nxt = nxt + 1
            if arg not in model:
                model[arg] = payload
            log.append(
                spark.createDataFrame([(arg, payload)], "b long, p long"),
                "t", arg,
            )
        elif op == "replay" and arg in model:
            # redelivery with DIFFERENT data must be ignored
            log.append(
                spark.createDataFrame([(arg, -1)], "b long, p long"), "t", arg
            )
        elif op == "compact":
            log.compact(spark, "t", min_segments=arg)
        assert sorted(log.committed("t")) == sorted(model)
        if model:
            got = {(r.b, r.p) for r in log.read(spark, "t").collect()}
            assert got == set(model.items())
