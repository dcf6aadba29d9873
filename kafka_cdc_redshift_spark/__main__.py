"""Runnable sync-job entry point.

    python -m kafka_cdc_redshift_spark --config job.properties

Composes config -> source -> CdcBatchProcessor -> sink exactly like the
reference's three main() scripts (glue/cdc_redshift.py:42-156,
emr_ec2/cdc_redshift.py, emr_serverless/cdc_redshift.py), with the same
.properties key surface:

  kafka_broker / topic / startingOffsets / max_offsets_per_trigger /
  consumer_group            Kafka source (S1); or `source_dir` for the
                            file-source twin (tests / local replay)
  cdc_format                FLINK-CDC | MSK-DEBEZIUM-CDC | DMS-CDC |
                            CANAL-CDC | MONGO-CDC
  sync_table_list           JSON rule array (S7) — schemas are inferred
                            per batch unless declared (S4 dynamic mode).
                            A rule's table is an equal name, else a
                            Python re.fullmatch regex evaluated on the
                            driver over each batch's table names (escape
                            `.` for a literal: a\\.b).
                            Per-rule flags: ignore_ddl, save_delete,
                            only_save_delete, skip_delete, scd2_history
                            (maintain <table>_history, SCD type 2),
                            super_columns, timestamp_columns, date_columns,
                            dedup_ingest (+ LSH tuning: dedup_lsh_n /
                            dedup_lsh_num_hashes / dedup_lsh_band_size /
                            dedup_lsh_threshold / dedup_lsh_max_bucket.
                            Unset keys adopt the state's standing params
                            manifest (upgrades keep working), else fresh
                            state gets the bounded shell defaults incl.
                            max_bucket=64; 0/none = unbounded exact
                            recall; an explicit key mismatching the
                            manifest refuses, pointing at migrate_lsh),
                            quality_gate, ann_ingest,
                            stats_group_columns + stats_value_column /
                            stats_distinct_column / stats_quantile_column /
                            stats_topk_column / stats_sample_column /
                            stats_bloom_column
  checkpoint_location       stream checkpoint dir (T3)
  checkpoint_interval       '30 seconds' (processingTime, T1) or
                            'availableNow' (bounded, T2)
  thread_max_workers        per-batch table fan-out (T10)
  batch_timeout_sec         batch watchdog (T8); unset = no timeout
  maxerror / tempformat / redshift_tmpdir / redshift_iam_role
                            bulk COPY-path tuning; s3:// tmpdirs stage
                            through the connector, filesystem tmpdirs
                            through the built-in staged transport
                            (same CSV format + merge transaction)
  compact_every_n_batches / compact_target_mb
                            periodic store small-file compaction
                            (operators/layout.py); unset = off
  keep_versions             version-chain retention: prune target-store
                            version dirs to the newest N after every
                            batch (the Delta-VACUUM analog). DEFAULT 2
                            — under copy-on-write every publish is a
                            full corpus copy, so keep-all is O(batches)
                            storage; opt out EXPLICITLY with
                            keep_versions=all (or 0) for replay audits
  prune_grace_sec           reader-grace seconds on top of keep_versions:
                            a version dir newer than this is never
                            pruned, so a long-running concurrent reader
                            cannot lose files mid-scan under per-batch
                            pruning (default 300; 0 disables)
  max_deltas_before_fold    cadence-independent cap on accrued per-batch
                            deltas (merge-on-read targets, delete-log /
                            quarantine append logs): any table reaching
                            this many unfolded deltas folds immediately
                            (default 32; 0 disables)
  offset_log_path           JSON-lines log of per-batch source end offsets
                            (T6 consumer-lag monitoring analog,
                            streaming/listener.py); unset = off
  redshift_host/port/database/username/password
                            JDBC merge target; omitted -> managed parquet
                            store at `target_store_path` (default
                            ./cdc_target_store)
  catalog_target_provider   merge into session-catalog transactional
                            tables instead (delta | iceberg): one atomic
                            MERGE INTO per batch (streaming/catalog_sink);
                            optional catalog_target_namespace prefixes
                            target names. Requires the format's jars —
                            raises a typed gate otherwise
  target_store_mode         cow (default: copy-on-write versioned store) |
                            mor (merge-on-read: O(batch) delta publishes,
                            resolution at read, folds in the compaction
                            cycle); anything else is refused
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession

from .config import load_properties, parse_sync_rules
from .sources import kafka
from .sources.secrets import resolve_credentials
from .streaming.catalog_sink import CatalogMergeSink
from .streaming.job import CdcBatchProcessor, run_file_stream, start_batches
from .streaming.sinks import BulkLoadOptions, JdbcMergeSink
from .streaming.store import MergeOnReadTargetStore, ParquetTargetStore


def _build_store(props: dict[str, str]):
    root = props.get("target_store_path", "cdc_target_store")
    mode = props.get("target_store_mode", "cow").strip().lower()
    if mode == "mor":
        return MergeOnReadTargetStore(root)
    if mode not in ("cow", ""):
        raise ValueError(f"unknown target_store_mode {mode!r}: use cow | mor")
    return ParquetTargetStore(root)


def build_processor(
    spark: SparkSession, props: dict[str, str]
) -> CdcBatchProcessor:
    rules = parse_sync_rules(props["sync_table_list"])
    jdbc_sink = None
    store = _build_store(props)
    if props.get("redshift_host") or props.get("redshift_secret_id"):
        creds = resolve_credentials(props)  # secret id > env vars > plaintext
        url = "jdbc:redshift://{0}:{1}/{2}".format(
            creds["host"], creds["port"], creds["database"]
        )
        bulk = None
        if props.get("redshift_tmpdir"):
            bulk = BulkLoadOptions(
                tempdir=props["redshift_tmpdir"],
                tempformat=props.get("tempformat", "CSV"),
                maxerror=int(props.get("maxerror", "0")),
                region=props.get("aws_region") or None,
                s3_endpoint=props.get("s3_endpoint") or None,
                iam_role=props.get("redshift_iam_role") or None,
            )
        jdbc_sink = JdbcMergeSink(
            url,
            user=creds["user"],
            password=creds["password"],
            driver=props.get("jdbc_driver", "com.amazon.redshift.jdbc42.Driver"),
            batchsize=int(props.get("jdbc_batchsize", "10000")),
            bulk=bulk,
        )
    elif props.get("catalog_target_provider"):
        # lakehouse target: same external-sink slot, one atomic MERGE
        # INTO per batch (streaming/catalog_sink)
        jdbc_sink = CatalogMergeSink(
            provider=props["catalog_target_provider"],
            namespace=props.get("catalog_target_namespace") or None,
        )
    return CdcBatchProcessor(
        spark,
        rules,
        store,
        cdc_format=props.get("cdc_format", "FLINK-CDC"),
        infer_sample_limit=(
            int(props["infer_sample_limit"]) if props.get("infer_sample_limit") else None
        ),
        max_workers=int(props.get("thread_max_workers", "8")),
        jdbc_sink=jdbc_sink,
        compact_every_n_batches=(
            int(props["compact_every_n_batches"])
            if props.get("compact_every_n_batches")
            else None
        ),
        compact_target_bytes=(
            int(props["compact_target_mb"]) if props.get("compact_target_mb") else 128
        ) * 1024 * 1024,
        max_deltas_before_fold=(
            int(props["max_deltas_before_fold"])
            if props.get("max_deltas_before_fold")
            else 32
        ),
        # pass the raw property through: the processor normalizes
        # "all"/"0" to keep-everything and digits to int; an ABSENT key
        # gets the processor's bounded default (keep the newest 2)
        **(
            {"keep_versions": props["keep_versions"]}
            if props.get("keep_versions")
            else {}
        ),
        # reader-grace seconds on top of keep_versions (never prune a
        # version newer than this); absent key = the processor's 300 s
        # default, 0 disables
        **(
            {"prune_grace_sec": props["prune_grace_sec"]}
            if props.get("prune_grace_sec")
            else {}
        ),
    )


def start_query(spark: SparkSession, props: dict[str, str],
                processor: CdcBatchProcessor):
    """Wire source -> foreachBatch(processor) -> checkpointed stream and
    start it (returns the StreamingQuery)."""
    interval = props.get("checkpoint_interval", "30 seconds")
    timeout = (
        float(props["batch_timeout_sec"]) if props.get("batch_timeout_sec") else None
    )
    ckpt = props["checkpoint_location"]
    trigger = dict(
        available_now=(interval == "availableNow"),
        processing_time=interval,
        batch_timeout_sec=timeout,
    )
    if props.get("source_dir"):
        return run_file_stream(
            spark, props["source_dir"], processor, ckpt, **trigger
        )
    stream = kafka.read_stream(
        spark,
        brokers=props["kafka_broker"],
        topics=props["topic"],
        max_offsets_per_trigger=int(props.get("max_offsets_per_trigger", "1000000")),
        starting_offsets=props.get("startingOffsets", "earliest"),
        consumer_group=props.get("consumer_group") or None,
    )
    return start_batches(stream, processor, ckpt, **trigger)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kafka_cdc_redshift_spark")
    ap.add_argument("--config", required=True, help=".properties job config")
    ap.add_argument(
        "--await", dest="await_termination", action="store_true", default=True,
        help="block until the stream terminates (default)",
    )
    ap.add_argument(
        "--no-await", dest="await_termination", action="store_false",
        help="start the stream and return (tests)",
    )
    args = ap.parse_args(argv)
    with open(args.config) as f:
        props = load_properties(f.read())
    spark = (
        SparkSession.builder.appName(props.get("job_name", "cdc-sync"))
        .config("spark.scheduler.mode", "FAIR")  # glue/cdc_redshift.py:26
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    processor = build_processor(spark, props)
    if props.get("offset_log_path"):
        # T6 analog: per-batch source offsets to a JSON-lines log for
        # consumer-lag monitoring (reference: KafkaOffsetCommitterListener,
        # glue/cdc_redshift.py:99)
        from .streaming.listener import OffsetCommitListener

        spark.streams.addListener(
            OffsetCommitListener(log_path=props["offset_log_path"])
        )
    query = start_query(spark, props, processor)
    if args.await_termination:
        query.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
