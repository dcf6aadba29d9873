"""Runnable entry point: python -m kafka_cdc_redshift_spark --config ...
(parity: glue/cdc_redshift.py:42-156 — config -> source -> foreachBatch ->
sink composition from a bare .properties file)."""

import json

import pytest

from kafka_cdc_redshift_spark.__main__ import build_processor, start_query
from kafka_cdc_redshift_spark.config import load_properties
from kafka_cdc_redshift_spark.streaming.sinks import (
    BulkLoadOptions,
    bulk_writer_options,
)


def _dz(db, table, after, op="c", ts=1):
    return json.dumps(
        {"source": {"db": db, "table": table}, "op": op, "ts_ms": ts,
         "after": after, "before": None}
    )


PROPS_TMPL = """
# job config (reference key surface, config/job-4x.properties)
cdc_format = FLINK-CDC
checkpoint_interval = availableNow
checkpoint_location = {ckpt}
source_dir = {src}
target_store_path = {store}
thread_max_workers = 4
batch_timeout_sec = 300
sync_table_list = [\\
{{"db": "d", "table": "t", "primary_key": "pid"}},\\
{{"db": "d", "table": "u", "primary_key": "uid"}}]
"""


def test_properties_backslash_continuations():
    props = load_properties(PROPS_TMPL.format(ckpt="c", src="s", store="st"))
    rules = json.loads(props["sync_table_list"])
    assert [r["table"] for r in rules] == ["t", "u"]
    assert props["cdc_format"] == "FLINK-CDC"


def test_entrypoint_runs_sync_job_from_properties(spark, tmp_path):
    src = tmp_path / "topic"
    src.mkdir()
    lines = [
        _dz("d", "t", {"pid": 1, "a": "x"}),
        _dz("d", "t", {"pid": 1, "a": "y"}, op="u", ts=2),
        _dz("d", "u", {"uid": 9, "b": 1.5}),
    ]
    (src / "b1.json").write_text("\n".join(lines) + "\n")
    cfg = tmp_path / "job.properties"
    cfg.write_text(
        PROPS_TMPL.format(
            ckpt=tmp_path / "ckpt", src=src, store=tmp_path / "store"
        )
    )

    props = load_properties(cfg.read_text())
    processor = build_processor(spark, props)
    q = start_query(spark, props, processor)
    q.awaitTermination(120)

    store = processor.store
    t = {r.pid: r.a for r in store.read(spark, "t").collect()}
    assert t == {1: "y"}  # LWW: the update won
    assert store.read(spark, "u").collect()[0].b == 1.5


def test_bulk_writer_options_match_reference_copy_surface():
    bulk = BulkLoadOptions(
        tempdir="s3://bucket/tmp/", tempformat="CSV GZIP", maxerror=100,
        region="us-east-1", s3_endpoint="s3.us-east-1.amazonaws.com",
        iam_role="arn:aws:iam::1:role/r",
    )
    opts = bulk_writer_options(
        url="jdbc:redshift://h:5439/dev", stage_table="stage_table_d_t",
        user="u", password="p", post_actions=["BEGIN", "END"], bulk=bulk,
    )
    assert opts["tempformat"] == "CSV GZIP"
    assert opts["tempdir"] == "s3://bucket/tmp/"
    assert opts["aws_iam_role"] == "arn:aws:iam::1:role/r"
    assert opts["postactions"] == "BEGIN; END"
    eco = opts["extracopyoptions"]
    assert "TRUNCATECOLUMNS" in eco and "maxerror 100" in eco
    assert "region 'us-east-1'" in eco and "dateformat 'auto'" in eco


def test_jdbc_sink_built_from_redshift_properties(spark):
    props = {
        "sync_table_list": '[{"db": "d", "table": "t", "primary_key": "pid"}]',
        "redshift_host": "h", "redshift_port": "5439",
        "redshift_database": "dev", "redshift_username": "u",
        "redshift_password": "p", "redshift_tmpdir": "s3://b/tmp/",
        "maxerror": "100", "tempformat": "CSV",
    }
    proc = build_processor(spark, props)
    sink = proc.jdbc_sink
    assert sink is not None
    assert sink.url == "jdbc:redshift://h:5439/dev"
    assert sink.bulk.maxerror == 100 and sink.bulk.tempformat == "CSV"


def test_catalog_sink_built_from_properties(spark):
    """catalog_target_provider routes the external-sink slot to the
    lakehouse MERGE INTO sink (streaming/catalog_sink); the duck-typed
    apply_batch surface accepts the job's JdbcMergeSink call shape."""
    import inspect

    from kafka_cdc_redshift_spark.streaming.catalog_sink import (
        CatalogMergeSink,
    )

    props = {
        "sync_table_list": '[{"db": "d", "table": "t", "primary_key": "pid"}]',
        "catalog_target_provider": "delta",
        "catalog_target_namespace": "lake",
    }
    proc = build_processor(spark, props)
    sink = proc.jdbc_sink
    assert isinstance(sink, CatalogMergeSink)
    assert sink.provider == "delta" and sink.namespace == "lake"
    # the job calls apply_batch(df, db=..., table=..., keys=..., skip_delete=...)
    params = inspect.signature(sink.apply_batch).parameters
    for p in ("db", "table", "keys", "skip_delete"):
        assert p in params
    assert sink._target("t") == "lake.t"


class _FakeSecretsClient:
    def __init__(self, payload):
        self.payload = payload
        self.requested = None

    def get_secret_value(self, SecretId):
        self.requested = SecretId
        return self.payload


def test_secrets_source_resolution_order():
    """S8: secret id > env vars > plaintext config
    (reference _get_secret, cdc_util/redshift_sink.py:621-645)."""
    import base64

    from kafka_cdc_redshift_spark.sources.secrets import (
        SecretsUnavailable,
        fetch_secret,
        resolve_credentials,
    )

    props = {"redshift_host": "h", "redshift_username": "plain",
             "redshift_password": "plainpw"}
    # no secret id, no env -> plaintext
    c = resolve_credentials(props, environ={})
    assert (c["user"], c["password"], c["host"]) == ("plain", "plainpw", "h")
    # env overrides plaintext
    c = resolve_credentials(props, environ={"REDSHIFT_USERNAME": "envu",
                                            "REDSHIFT_PASSWORD": "envp"})
    assert (c["user"], c["password"]) == ("envu", "envp")
    # secret overrides everything; host/port/dbname from secret honored
    secret = {"username": "su", "password": "sp", "host": "sh", "port": 5440,
              "dbname": "sdb"}
    client = _FakeSecretsClient({"SecretString": __import__("json").dumps(secret)})
    c = resolve_credentials({**props, "redshift_secret_id": "my-secret"},
                            client=client, environ={})
    assert client.requested == "my-secret"
    assert c == {"user": "su", "password": "sp", "host": "sh",
                 "port": "5440", "database": "sdb"}
    # binary secrets decode (reference base64 branch)
    raw = base64.b64encode(b'{"username": "bu", "password": "bp"}')
    got = fetch_secret("s", client=_FakeSecretsClient({"SecretBinary": raw}))
    assert got["username"] == "bu"
    # non-JSON secret -> clear error
    try:
        fetch_secret("s", client=_FakeSecretsClient({"SecretString": "not json"}))
        raise AssertionError("should raise")
    except SecretsUnavailable:
        pass


def test_compaction_knobs_parsed_from_properties(spark, tmp_path):
    props = load_properties(
        "sync_table_list=[{\"db\":\"d\",\"table\":\"t\",\"primary_key\":\"pid\"}]\n"
        "compact_every_n_batches=5\n"
        "compact_target_mb=64\n"
        "keep_versions=3\n"
        "prune_grace_sec=60\n"
        f"target_store_path={tmp_path / 'store'}\n"
    )
    proc = build_processor(spark, props)
    assert proc.compact_every_n_batches == 5
    assert proc.compact_target_bytes == 64 * 1024 * 1024
    assert proc.keep_versions == 3
    assert proc.prune_grace_sec == 60.0

    props2 = load_properties(
        "sync_table_list=[{\"db\":\"d\",\"table\":\"t\",\"primary_key\":\"pid\"}]\n"
        f"target_store_path={tmp_path / 'store2'}\n"
    )
    proc2 = build_processor(spark, props2)
    assert proc2.compact_every_n_batches is None
    # absent prune_grace_sec = the processor's 300 s reader-grace default
    assert proc2.prune_grace_sec == 300.0
    # r11: retention default flipped — an UNSET keep_versions now keeps
    # the newest 2 versions (under copy-on-write every publish is a full
    # corpus copy, so keep-all must be an explicit choice, never a default)
    assert proc2.keep_versions == 2

    # the explicit keep-everything opt-out, both spellings
    for spelling in ("all", "0"):
        props3 = load_properties(
            "sync_table_list=[{\"db\":\"d\",\"table\":\"t\",\"primary_key\":\"pid\"}]\n"
            f"keep_versions={spelling}\n"
            f"target_store_path={tmp_path / 'store3'}\n"
        )
        assert build_processor(spark, props3).keep_versions is None


def test_target_store_mode_selection(spark, tmp_path):
    from kafka_cdc_redshift_spark.streaming.store import (
        BucketedTargetStore,
        MergeOnReadTargetStore,
        ParquetTargetStore,
    )

    base = {
        "sync_table_list": '[{"db": "d", "table": "t", "primary_key": "pid"}]',
        "target_store_path": str(tmp_path / "store"),
    }
    assert type(build_processor(spark, dict(base)).store) is ParquetTargetStore
    assert isinstance(
        build_processor(
            spark, dict(base, target_store_mode="mor")
        ).store,
        MergeOnReadTargetStore,
    )
    bstore = build_processor(
        spark, dict(base, target_store_mode="bucketed", bucket_count="8")
    ).store
    assert isinstance(bstore, BucketedTargetStore)
    assert bstore.bucket_keys == {"t": ["pid"]} and bstore.num_buckets == 8
    with pytest.raises(ValueError, match="target_store_mode"):
        build_processor(spark, dict(base, target_store_mode="nope"))


def test_entrypoint_mor_mode_end_to_end(spark, tmp_path):
    """The same .properties job with target_store_mode=mor: identical
    final state through the delta-publish path."""
    src = tmp_path / "topic"
    src.mkdir()
    lines = [
        _dz("d", "t", {"pid": 1, "a": "x"}),
        _dz("d", "t", {"pid": 1, "a": "y"}, op="u", ts=2),
        _dz("d", "u", {"uid": 9, "b": 1.5}),
    ]
    (src / "b1.json").write_text("\n".join(lines) + "\n")
    cfg = tmp_path / "job.properties"
    cfg.write_text(
        PROPS_TMPL.format(
            ckpt=tmp_path / "ckpt", src=src, store=tmp_path / "store"
        )
        + "\ntarget_store_mode = mor\n"
    )
    props = load_properties(cfg.read_text())
    processor = build_processor(spark, props)
    q = start_query(spark, props, processor)
    q.awaitTermination(120)
    store = processor.store
    from kafka_cdc_redshift_spark.streaming.store import MergeOnReadTargetStore

    assert isinstance(store, MergeOnReadTargetStore)
    t = {r.pid: r.a for r in store.read(spark, "t").collect()}
    assert t == {1: "y"}
    assert store.read(spark, "u").collect()[0].b == 1.5


def test_kitchen_sink_job_composes_every_per_rule_feature(spark, tmp_path):
    """One .properties rule driving the full per-rule surface at once —
    quality gate + SCD2 history + delete log + streaming dedup/BM25/ANN
    ingest + incremental stats — proves the features compose in a single
    batch loop, not just in isolation."""
    import random

    rng = random.Random(7)
    vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()

    def good_text(seed):
        r = random.Random(seed)
        words = [r.choice(vocab) for _ in range(22)] + ["the", "with"]
        return " ".join(words)

    near_a = good_text(101)
    near_b = near_a.rsplit(" ", 1)[0] + " omega"  # near-dup of near_a

    def doc(i, text, op="c", ts=None):
        emb = [round(rng.uniform(-1, 1), 3) for _ in range(8)]
        return _dz(
            "d", "docs",
            {"doc_id": i, "text": text, "lang": "en" if i % 2 else "de",
             "n_chars": len(text), "embedding": emb},
            op=op, ts=ts if ts is not None else i + 10,
        )

    lines1 = [doc(i, good_text(i)) for i in range(8)]
    lines1.append(doc(100, near_a))
    lines2 = [doc(i, good_text(50 + i)) for i in range(8, 14)]
    lines2.append(doc(101, near_b))
    lines2.append(doc(102, "too short"))  # fails the gopher word count
    lines2.append(doc(3, good_text(3), op="d", ts=99))  # delete doc 3
    # UPDATE doc 5 (op u, new text): its old postings/bands/vector must
    # be tombstoned out of every ingest state, the new image re-indexed
    lines2.append(doc(5, good_text(500), op="u", ts=99))

    src = tmp_path / "topic"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(lines1) + "\n")
    (src / "b2.json").write_text("\n".join(lines2) + "\n")

    cfg_text = f"""
cdc_format = FLINK-CDC
checkpoint_interval = availableNow
checkpoint_location = {tmp_path / "ckpt"}
source_dir = {src}
target_store_path = {tmp_path / "store"}
max_files_per_trigger = 1
sync_table_list = [\\
{{"db": "d", "table": "docs", "primary_key": "doc_id",\\
  "save_delete": "true", "scd2_history": "true",\\
  "quality_gate": "true",\\
  "dedup_ingest": "true",\\
  "bm25_ingest": "true",\\
  "ann_ingest": "true", "ann_n_centroids": "2",\\
  "stats_group_columns": "lang", "stats_value_column": "n_chars",\\
  "stats_distinct_column": "doc_id"}}]
"""
    props = load_properties(cfg_text)
    processor = build_processor(spark, props)
    q = start_query(spark, props, processor)
    q.awaitTermination(300)

    store = processor.store
    import pyspark.sql.functions as F

    from kafka_cdc_redshift_spark.functions import dedup_text, retrieval

    target = store.read(spark, "docs")
    ids = {r.doc_id for r in target.select("doc_id").collect()}
    assert 3 not in ids            # deleted
    assert 102 not in ids          # quarantined by the gate
    assert {100, 101} <= ids       # near-dups still land in the target
    assert len(ids) == 15          # 0..13 minus doc 3, plus 100, 101

    # quarantine holds exactly the failing doc, with audit flags
    rej = store.read(spark, "docs_rejected")
    assert {r.doc_id for r in rej.select("doc_id").collect()} == {102}
    # delete log holds the delete image for doc 3
    dels = store.read(spark, "docs_delete")
    assert {r.doc_id for r in dels.select("doc_id").collect()} == {3}
    # SCD2 history: every surviving doc has an open version
    hist = store.read(spark, "docs_history")
    open_rows = hist.filter(F.col("is_current")).count() if "is_current" in hist.columns else hist.count()
    assert open_rows >= len(ids)

    # streamed dedup state == one-shot rebuild over the FINAL live
    # corpus: the gate-passing images minus deletes, with updates at
    # their LATEST text — doc 3's delete tombstones its pre-delete
    # create out of the standing index and doc 5's update replaces its
    # original (streaming/tombstones.py), matching the target's state
    seen = spark.createDataFrame(
        [(i, good_text(i)) for i in range(8) if i not in (3, 5)]
        + [(5, good_text(500))]
        + [(i, good_text(50 + i)) for i in range(8, 14)]
        + [(100, near_a), (101, near_b)],
        "doc_id long, text string",
    )
    ing = processor._ingestor(processor.rules[0], "dedup_ingest")
    got_pairs = {
        (r.doc_a, r.doc_b) for r in ing.pairs(spark).collect()
    }
    want_pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup_text.minhash_lsh_pairs(seen).collect()
    }
    assert (100, 101) in got_pairs
    assert got_pairs == want_pairs

    # streamed BM25 == batch BM25 over the same docs
    queries = spark.createDataFrame(
        [(0, "alpha beta"), (1, "omega")], "q_id int, q_text string"
    )
    bm = processor._ingestor(processor.rules[0], "bm25_ingest")
    got_topk = sorted(
        (r.q_id, r.doc_id, r.n_terms, r.score, r.rnk)
        for r in bm.topk(queries, k=5).collect()
    )
    want_topk = sorted(
        (r.q_id, r.doc_id, r.n_terms, r.score, r.rnk)
        for r in retrieval.bm25_topk(seen, queries, k=5).collect()
    )
    assert got_topk == want_topk and got_topk

    # ANN index serves k neighbors per query from the streamed cells
    ann = processor._ingestors[("ann_ingest", processor.rules[0].target_name)]
    qv = spark.createDataFrame(
        [(0, [0.1] * 8)], "q_id long, q_emb array<double>"
    )
    hits = ann.topk(qv, k=3, nprobe=2).collect()
    # doc 3's vector is tombstoned out with its delete — neighbors come
    # from the live corpus only
    assert len(hits) == 3 and all(h.neighbor_id in ids for h in hits)

    # incremental census family landed
    assert store.read(spark, "docs_stats") is not None
    assert store.read(spark, "docs_ndv") is not None


def test_bench_round_label_from_explicit_marker():
    """The bench detail artifact's round label comes from the ONE explicit
    `__spark_entry__.ROUND` marker, never inference (r11 verdict: every
    inference scheme desynced once — BENCH_r* appears mid-round,
    CORRECTNESS_r{N} lands before the driver's close bench). The marker
    must also sit in the window the committed correctness history
    implies: the newest CORRECTNESS file is the PREVIOUS round's for the
    whole build round, and this round's own at driver close."""
    import glob
    import os
    import re

    import __spark_entry__ as entry
    import bench

    assert isinstance(entry.ROUND, int)
    # cpu-qualified since r13 (r12 verdict: the driver's 8-core scaling
    # run overwrote the 32-core detail, losing the per-query evidence)
    from kafka_cdc_redshift_spark.session import host_sizing

    cpus = host_sizing()[0]
    assert (
        bench.default_detail_path()
        == f"BENCH_DETAIL_r{entry.ROUND:02d}_c{cpus}.json"
    )

    here = os.path.dirname(os.path.abspath(bench.__file__))
    nums = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    if nums:  # mid-round: max+1 == ROUND; at driver close: max == ROUND
        assert entry.ROUND in (max(nums), max(nums) + 1), (
            f"ROUND={entry.ROUND} is stale vs CORRECTNESS_r{max(nums):02d}"
            " — bump the ROUND constant in __spark_entry__.py at round open"
        )


def test_dedup_lsh_params_properties_drivable(spark, tmp_path):
    """r11 verdict item 1: the shell's DedupIngest LSH tuning is
    .properties-drivable per rule (dedup_lsh_n / num_hashes / band_size /
    threshold / max_bucket), with a BOUNDED default max_bucket — the
    hot-bucket guard (functions/dedup_text._cap_hot_buckets) existed but
    the production path constructed the ingestor with defaults only, so
    at corpus scale it ran with unbounded candidate buckets it could not
    tune without code. The params manifest makes first-open adoption and
    retune-refusal carry over unchanged."""
    import json as _json

    from pyspark.sql import functions as F

    from kafka_cdc_redshift_spark.config import parse_sync_rules
    from kafka_cdc_redshift_spark.functions import dedup_text

    rule_json = (
        '[{"db": "d", "table": "docs", "primary_key": "doc_id", '
        '"dedup_ingest": "true", "dedup_lsh_num_hashes": "18", '
        '"dedup_lsh_band_size": "3", "dedup_lsh_threshold": "0.4", '
        '"dedup_lsh_max_bucket": "5"}]'
    )
    (rule,) = parse_sync_rules(rule_json)
    # unspecified keys stay None (n here): the shell resolves them from
    # the standing manifest, else its bounded defaults
    assert (rule.dedup_lsh_n, rule.dedup_lsh_num_hashes,
            rule.dedup_lsh_band_size, rule.dedup_lsh_threshold,
            rule.dedup_lsh_max_bucket) == (None, 18, 3, 0.4, 5)
    # the unbounded opt-out spellings, and the unspecified sentinel
    (r0,) = parse_sync_rules(
        '[{"db": "d", "table": "t", "primary_key": "pid", '
        '"dedup_lsh_max_bucket": "0"}]'
    )
    assert r0.dedup_lsh_max_bucket is None
    (rnone,) = parse_sync_rules(
        '[{"db": "d", "table": "t", "primary_key": "pid", '
        '"dedup_lsh_max_bucket": "none"}]'
    )
    assert rnone.dedup_lsh_max_bucket is None
    (rdef,) = parse_sync_rules('[{"db": "d", "table": "t", "primary_key": "pid"}]')
    assert rdef.dedup_lsh_max_bucket == "unset"

    # e2e through the shell at the non-default tuning: the ingestor is
    # constructed from the rule, the params manifest records it, and the
    # streamed pairs equal a one-shot rebuild under the SAME tuning
    from kafka_cdc_redshift_spark.streaming import (
        CdcBatchProcessor,
        ParquetTargetStore,
    )

    store = ParquetTargetStore(str(tmp_path / "store"))
    proc = CdcBatchProcessor(spark, [rule], store, prune_grace_sec=0)

    import random

    vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()

    def text(seed):
        r = random.Random(seed)
        return " ".join(r.choice(vocab) for _ in range(22))

    near_a = text(101)
    near_b = near_a.rsplit(" ", 1)[0] + " omega"

    def batch(items, op="c", ts0=10):
        return spark.createDataFrame(
            [(_json.dumps({
                "before": None,
                "after": {"doc_id": i, "text": t},
                "source": {"db": "d", "table": "docs"},
                "op": op, "ts_ms": ts0 + i,
            }),) for i, t in items],
            "value string",
        )

    docs1 = [(i, text(i)) for i in range(6)] + [(100, near_a)]
    docs2 = [(i, text(50 + i)) for i in range(6, 10)] + [(101, near_b)]
    proc.process_batch(batch(docs1), 0)
    proc.process_batch(batch(docs2), 1)

    ing = proc._ingestors[("dedup_ingest", "docs")]
    assert (ing.num_hashes, ing.band_size, ing.threshold,
            ing.max_bucket) == (18, 3, 0.4, 5)
    with open(ing._params_path()) as f:
        manifest = _json.load(f)
    assert manifest == {"n": 3, "num_hashes": 18, "band_size": 3,
                        "threshold": 0.4, "max_bucket": 5}

    corpus = spark.createDataFrame(
        docs1 + docs2, "doc_id long, text string"
    )
    got = sorted((r.doc_a, r.doc_b, round(r.jaccard, 9))
                 for r in ing.pairs(spark).collect())
    want = sorted(
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in dedup_text.minhash_lsh_pairs(
            corpus, num_hashes=18, band_size=3, threshold=0.4, max_bucket=5
        ).collect()
    )
    assert got == want and (100, 101) in {(a, b) for a, b, _ in got}

    # a RETUNED rule on the same standing state refuses at ingest,
    # pointing at migrate_lsh — the manifest contract, now reachable
    # from config
    import dataclasses

    retuned = dataclasses.replace(rule, dedup_lsh_num_hashes=12)
    proc2 = CdcBatchProcessor(spark, [retuned], store, prune_grace_sec=0)
    with pytest.raises(Exception, match="migrate_lsh"):
        proc2.process_batch(batch([(200, text(200))]), 2)


def test_dedup_lsh_shell_defaults_and_upgrade_compat(spark, tmp_path):
    """The shell's LSH resolution order (r12 review): explicit rule keys
    win; else a STANDING params manifest wins (an upgraded deployment
    whose index predates the bounded shell default must keep ingesting
    with the parameters it was built with — the default flip must not
    brick it behind the manifest refusal); else fresh state gets the
    bounded shell defaults (max_bucket=64)."""
    import json as _json

    from kafka_cdc_redshift_spark.config import parse_sync_rules
    from kafka_cdc_redshift_spark.streaming import (
        CdcBatchProcessor,
        ParquetTargetStore,
    )
    from kafka_cdc_redshift_spark.streaming.dedup_ingest import DedupIngest
    from kafka_cdc_redshift_spark.streaming.job import SHELL_LSH_DEFAULTS
    from kafka_cdc_redshift_spark.streaming.store import AppendLog

    def batch(items):
        return spark.createDataFrame(
            [(_json.dumps({
                "before": None, "after": {"doc_id": i, "text": t},
                "source": {"db": "d", "table": "docs"},
                "op": "c", "ts_ms": i,
            }),) for i, t in items],
            "value string",
        )

    (plain,) = parse_sync_rules(
        '[{"db": "d", "table": "docs", "primary_key": "doc_id", '
        '"dedup_ingest": "true"}]'
    )

    # fresh state, no keys -> bounded shell defaults, manifested
    store = ParquetTargetStore(str(tmp_path / "fresh"))
    proc = CdcBatchProcessor(spark, [plain], store, prune_grace_sec=0)
    proc.process_batch(batch([(1, "alpha beta gamma one two three")]), 0)
    ing = proc._ingestors[("dedup_ingest", "docs")]
    assert ing._params() == SHELL_LSH_DEFAULTS
    assert ing.max_bucket == 64

    # UPGRADE path: state built under the LIBRARY defaults (pre-r12
    # shell: max_bucket=None) — a default-keys shell must adopt the
    # standing manifest and keep ingesting, not refuse
    store2 = ParquetTargetStore(str(tmp_path / "upgraded"))
    legacy = DedupIngest(
        AppendLog(str(tmp_path / "upgraded" / "_dedup_state")), name="docs"
    )
    legacy.process_batch(
        spark.createDataFrame(
            [(1, "alpha beta gamma one two three")],
            "doc_id long, text string",
        ), 0,
    )
    assert legacy.max_bucket is None  # the library default
    proc2 = CdcBatchProcessor(spark, [plain], store2, prune_grace_sec=0)
    proc2.process_batch(batch([(2, "delta epsilon zeta four five six")]), 1)
    ing2 = proc2._ingestors[("dedup_ingest", "docs")]
    assert ing2.max_bucket is None  # manifest outranks the shell default
    assert ing2._params() == legacy._params()

    # but an EXPLICIT key mismatching the manifest still refuses,
    # pointing at migrate_lsh (no silent layout mix)
    (retuned,) = parse_sync_rules(
        '[{"db": "d", "table": "docs", "primary_key": "doc_id", '
        '"dedup_ingest": "true", "dedup_lsh_num_hashes": "18"}]'
    )
    proc3 = CdcBatchProcessor(spark, [retuned], store2, prune_grace_sec=0)
    with pytest.raises(Exception, match="migrate_lsh"):
        proc3.process_batch(batch([(3, "eta theta iota")]), 2)
