"""Streaming shell: foreachBatch micro-batch loop with multi-table fan-out.

Mirrors the reference's job lifecycle (glue/cdc_redshift.py:115-156):
  * cache the batch once, fan out one task per sync rule over the SAME
    cached DataFrame (T10; reference uses a driver ThreadPoolExecutor with
    FAIR scheduling, glue/cdc_redshift.py:26, 119-127)
  * per table: route -> parse -> type-convert -> LWW dedup -> merge into the
    keyed target (+ optional delete-stream table)
  * fail-fast: any task error aborts the batch so the checkpoint retries it
    (T11, glue/cdc_redshift.py:129-136)
  * batch watchdog: a batch exceeding `batch_timeout_sec` raises
    (T8, emr_ec2/cdc_redshift.py:73-77, 131-143)

The processor is source-agnostic: any stream producing a `value: string`
column works (Kafka in production — sources/kafka.py; a file source in
tests, which exercises identical trigger/checkpoint semantics).
"""

from __future__ import annotations

import concurrent.futures as cf
import logging
import os
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import types as T

from pyspark.sql import functions as F

from ..config import SyncRule
from ..functions import incremental as inc
from ..functions.membership import bloom_from_hashes, merge_blooms
from ..operators.dedup import (
    BOOKKEEPING,
    DELETE_OP,
    OP_COL,
    TIEBREAK_COL,
    TS_COL,
    UPDATE_OP,
    latest_deletes,
    lww_dedup,
)
from ..operators.merge import merge_changes, scd2_merge_batch
from ..operators.normalize import route_parse
from ..operators.schema_evolution import cast_to_target, diff_schemas
from ..operators.typeconv import apply_rule_conversions
from ..sources import envelopes
from ..sources.infer import infer_payload_schema
from .ann_ingest import VersionedAnnIndex
from .dedup_ingest import DedupIngest
from .retrieval_ingest import RetrievalIngest
from .store import AppendLog, ParquetTargetStore

_log = logging.getLogger(__name__)


def _non_deletes(df: DataFrame) -> DataFrame:
    """The frame's non-delete images, if it carries a change-type column."""
    if OP_COL not in df.columns:
        return df
    return df.filter(F.col(OP_COL) != DELETE_OP)


def _bloom_sketch(obs: DataFrame, keys, col: str) -> DataFrame:
    vals = obs.select(F.col(col).cast("long").alias("v"))
    return bloom_from_hashes(vals.filter(F.col("v").isNotNull()), "v")


def _bloom_fold(prev: DataFrame | None, batch: DataFrame, keys) -> DataFrame:
    return batch if prev is None else merge_blooms(prev, batch)


#: the derived tables a rule's stats_* fields enable, folded per batch
#: in this order: (suffix, SyncRule field that enables the table and
#: names its column, batch sketch fn(src, group keys, column), fold fn
#: (previous table or None, batch sketch, group keys)). Every fold runs
#: through its own batch-id guard (_fold_table): foreachBatch is
#: at-least-once, and count/sum/counter folds are not idempotent.
#: EVENT tables fold the batch's non-delete images (each one observation;
#: append-only contract). _topk has no batch sketch: it re-ranks
#: (standing candidates UNION batch values) by the _cms folded just
#: before it. The bloom is table-global; every other event table needs
#: stats_group_columns.
_EVENT_FOLDS = (
    ("_stats", "stats_value_column", inc.group_stats, inc.merge_group_stats),
    ("_ndv", "stats_distinct_column",
     inc.group_distinct_sketch, inc.merge_distinct_sketches),
    ("_qsk", "stats_quantile_column",
     inc.group_quantile_sketch, inc.merge_quantile_sketches),
    ("_cms", "stats_topk_column",
     inc.group_freq_sketch, inc.merge_freq_sketches),
    ("_topk", "stats_topk_column", None, inc.topk_candidates),
    ("_sample", "stats_sample_column",
     inc.group_sample_sketch, inc.merge_sample_sketches),
    ("_bloom", "stats_bloom_column", _bloom_sketch, _bloom_fold),
)

#: CURRENT-STATE tables (stats_current_state): the signed retract/assert
#: census of the batch's before/after images, so they track updates and
#: deletes. Same entry shape; the family needs stats_group_columns,
#: stats_value_column and a format with a before image (CdcFormat.before).
_STATE_FOLDS = (
    ("_state_stats", "stats_value_column",
     inc.group_stats_cdc, inc.merge_group_stats_cdc),
    ("_state_cms", "stats_topk_column",
     inc.group_freq_sketch_cdc, inc.merge_freq_sketches_cdc),
    ("_state_qsketch", "stats_quantile_column",
     inc.group_quantile_sketch_cdc, inc.merge_quantile_sketches_cdc),
)


def _derived_folds(
    rule: SyncRule, spec: envelopes.CdcFormat
) -> tuple[list, list]:
    """The rule's enabled (_EVENT_FOLDS, _STATE_FOLDS) entries, in fold
    order — the one place that decides which derived tables exist."""
    grouped = bool(rule.stats_group_columns)
    event = [
        e for e in _EVENT_FOLDS
        if getattr(rule, e[1]) and (grouped or e[0] == "_bloom")
    ]
    state = []
    if (
        grouped and rule.stats_value_column and rule.stats_current_state
        and spec.before
    ):
        state = [e for e in _STATE_FOLDS if getattr(rule, e[1])]
    return event, state


def _sink_ignored_flags(
    rule: SyncRule, spec: envelopes.CdcFormat
) -> list[str]:
    """The rule's flags whose tables live in the engine store: SCD2
    history, the derived stats folds and the derived-state ingests."""
    event, state = _derived_folds(rule, spec)
    flags = ["scd2_history"] if rule.scd2_history else []
    flags += dict.fromkeys(e[1] for e in event + state)
    return flags + [k for k in _INGESTS if getattr(rule, k)]


_JOB_GROUP_KEYS = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel",
)


@contextmanager
def _job_group(sc, group: str, description: str):
    """Tag the Spark jobs this thread submits in the body with `group`
    (so `cancelJobGroup` and `getJobIdsForGroup` see them), then restore
    the thread's prior group: the stream thread's own jobs (Structured
    Streaming tags them with the query's run id) must not inherit the
    batch's."""
    prior = [sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS]
    sc.setJobGroup(group, description, interruptOnCancel=True)
    try:
        yield
    finally:
        for key, value in zip(_JOB_GROUP_KEYS, prior):
            sc.setLocalProperty(key, value)  # None clears it


@dataclass
class TaskStatus:
    table: str
    status: str  # finished | no-data | error
    error: str | None = None
    rows: int = 0


# Shell defaults for a FRESH dedup-ingest state with no explicit
# dedup_lsh_* keys: library semantics except max_bucket, which defaults
# BOUNDED (the hot-bucket guard on by default in production; 0/"none"
# in config = unbounded exact recall). A standing params manifest
# always outranks these — see _dedup_ingest.
SHELL_LSH_DEFAULTS = {
    "n": 3, "num_hashes": 12, "band_size": 2, "threshold": 0.5,
    "max_bucket": 64,
}


def _dedup_ingest(rule: SyncRule, log: AppendLog) -> DedupIngest:
    # LSH tuning resolution, in precedence order (r11 verdict item + the
    # r12 upgrade-compat review):
    #   1. EXPLICIT per-rule dedup_lsh_* keys — authoritative; a mismatch
    #      against a standing manifest refuses at ingest, pointing at
    #      migrate_lsh (the no-silent-mix contract).
    #   2. the state's standing params MANIFEST — an upgraded deployment
    #      with no config change keeps the exact parameters its index
    #      was built with (flipping the shell default must not brick
    #      pre-existing state behind the manifest refusal).
    #   3. SHELL_LSH_DEFAULTS — new state with no keys gets the BOUNDED
    #      max_bucket: at corpus scale an unbounded boilerplate band
    #      bucket makes the candidate join quadratic in one reducer, and
    #      a knob the production path cannot reach without code is not
    #      a knob.
    stored = DedupIngest.stored_params(log, rule.target_name)
    base = stored if stored is not None else SHELL_LSH_DEFAULTS
    explicit = {
        k: v for k, v in (
            ("n", rule.dedup_lsh_n),
            ("num_hashes", rule.dedup_lsh_num_hashes),
            ("band_size", rule.dedup_lsh_band_size),
            ("threshold", rule.dedup_lsh_threshold),
        ) if v is not None
    }
    if rule.dedup_lsh_max_bucket != "unset":
        explicit["max_bucket"] = rule.dedup_lsh_max_bucket
    return DedupIngest(
        log, name=rule.target_name, id_col=rule.primary_key[0],
        text_col=rule.dedup_text_column, **{**base, **explicit},
    )


#: the derived-state ingest family, one entry per SyncRule flag: (state
#: dir under the store root, build(rule, AppendLog) -> ingestor). Each
#: ingestor takes the same per-batch feed (process_batch(docs, batch_id,
#: tombstones=...)) and maintenance (compact_state(spark)) — the
#: merge-on-read tombstone contract of streaming/tombstones.py.
_INGESTS = {
    # streaming near-dup ingest: deduped against the LIVE standing
    # corpus (doc-free: persisted band index + sketches) and within
    # itself, then folded into the corpus state
    "dedup_ingest": ("_dedup_state", _dedup_ingest),
    # streaming BM25 ingest: postings append O(|batch|), the corpus
    # never re-tokenized
    "bm25_ingest": ("_bm25_state", lambda rule, log: RetrievalIngest(
        log, name=rule.target_name, id_col=rule.primary_key[0],
        text_col=rule.bm25_text_column, positions=rule.bm25_positions,
    )),
    # streaming ANN ingest: the batch's vectors assign against the
    # persisted centroids, O(|batch| x k), the corpus never re-assigned;
    # the first batch bootstraps the centroids, drift rebuilds ride the
    # maintenance cycle (VersionedAnnIndex.maintain)
    "ann_ingest": ("_ann_state", lambda rule, log: VersionedAnnIndex(
        log, name=rule.target_name, id_col=rule.primary_key[0],
        vec_col=rule.ann_vec_column, n_centroids=rule.ann_n_centroids,
        drift_floor=rule.ann_drift_floor, pq_n_sub=rule.ann_pq_n_sub,
        pq_n_codes=rule.ann_pq_n_codes,
    )),
}


class CdcBatchProcessor:
    def __init__(
        self,
        spark: SparkSession,
        rules: list[SyncRule],
        store: ParquetTargetStore,
        *,
        cdc_format: str = "FLINK-CDC",
        payload_schemas: dict[str, T.StructType] | None = None,
        infer_sample_limit: int | None = None,
        max_workers: int = 8,
        jdbc_sink=None,
        compact_every_n_batches: int | None = None,
        compact_target_bytes: int = 128 * 1024 * 1024,
        max_deltas_before_fold: int | None = 32,
        keep_versions: int | str | None = 2,
        prune_grace_sec: float | int | str = 300.0,
    ):
        self.spark = spark
        self.rules = rules
        self.store = store
        self.cdc_format = cdc_format
        # unknown formats fail here, not inside every rule's first task
        self._format = envelopes.cdc_format(cdc_format)
        # payload_schemas=None (or a missing table key) = the reference's
        # zero-declaration mode: the schema is re-inferred from each batch
        # (cdc_util/redshift_sink.py:592), so drift is picked up per batch
        # and flows into schema evolution downstream. Declared schemas skip
        # the inference scan — the right call at scale.
        self.payload_schemas = payload_schemas or {}
        self.infer_sample_limit = infer_sample_limit
        self.max_workers = max_workers
        # external JDBC target (JdbcMergeSink): the warehouse runs the merge
        # transaction (stage -> DELETE USING -> INSERT re-deduped), so the
        # in-engine target merge is skipped — parity with the reference's
        # Redshift write path (cdc_util/redshift_sink.py:477-527). Such a
        # sink syncs the target and its delete log only: a rule whose flags
        # promise engine-side tables is refused rather than half-synced
        if jdbc_sink is not None:
            for rule in rules:
                ignored = _sink_ignored_flags(rule, self._format)
                if ignored:
                    raise ValueError(
                        f"rule {rule.target_name!r}: an external sink syncs "
                        "only the target and its delete log, so "
                        f"{', '.join(ignored)} would never be written; drop "
                        "these flags or the sink"
                    )
        self.jdbc_sink = jdbc_sink
        # periodic small-file compaction (operators/layout.py): every batch
        # publish writes a fresh file-set, so long-running jobs accrue tiny
        # files; every N successful batches the targets are republished at
        # ~compact_target_bytes through the store's atomic version swap —
        # the VACUUM half of the reference's Redshift-side maintenance
        self.compact_every_n_batches = compact_every_n_batches
        self.compact_target_bytes = compact_target_bytes
        # delta-count backstop, DECOUPLED from the compaction cadence: a
        # store that accrues per-batch deltas (merge-on-read targets, the
        # append-logged delete log / quarantine under either mode) folds
        # whenever a table's committed-but-unfolded delta count reaches
        # this cap, even when compact_every_n_batches is unset or
        # misconfigured large — otherwise read amplification (N delta
        # list-reads per query) grows unbounded between compactions
        self.max_deltas_before_fold = max_deltas_before_fold
        # version-chain retention: every publish adds a full version dir
        # (copy-on-write) or a folded base (merge-on-read). keep_versions=N
        # prunes to the newest N dirs after every batch
        # (store.prune_versions — the Delta-VACUUM analog). DEFAULT 2:
        # under copy-on-write, keep-all is O(batches) FULL-CORPUS copies
        # (the r10 churn audit measures the growth line — 25 dirs /
        # 14.59 MB in 24 toy batches; at 100 TB that default would be
        # petabytes in hours), so a long-running job must opt INTO
        # unbounded history, never fall into it. None / "all" / 0 is the
        # explicit keep-everything opt-out for replay audits.
        if isinstance(keep_versions, str):
            keep_versions = (
                None if keep_versions.strip().lower() in ("all", "none")
                else int(keep_versions)
            )
        if keep_versions == 0:
            keep_versions = None
        if keep_versions is not None and keep_versions < 1:
            raise ValueError(
                f"keep_versions={keep_versions!r}: use a positive count, "
                "or 0/'all' to keep every version"
            )
        self.keep_versions = keep_versions
        # reader-grace window on top of the version count (r11 ADVICE:
        # with per-batch pruning and a fast trigger, keep>=2 alone is one
        # BATCH of grace, not one compaction cycle — a concurrent reader
        # that resolved the pointer a few publishes ago would lose its
        # files mid-scan). A version newer than this many seconds is
        # never pruned; the Delta-VACUUM retention-hours analog, scaled
        # to micro-batch cadence. 0 disables (tests; offline jobs with
        # no concurrent readers).
        prune_grace_sec = float(prune_grace_sec)
        if prune_grace_sec < 0:
            raise ValueError(
                f"prune_grace_sec={prune_grace_sec!r}: use seconds >= 0"
            )
        self.prune_grace_sec = prune_grace_sec
        self._prune_warned: set[str] = set()
        self._batches_since_compact = 0
        self.batch_statuses: list[list[TaskStatus]] = []  # per processed batch
        self.compact_errors: list[tuple[str, str]] = []  # (table, error)
        # (_INGESTS flag, rule target) -> derived-state ingestor
        self._ingestors: dict[tuple[str, str], object] = {}

    def _ingestor(self, rule: SyncRule, kind: str):
        """Lazily build the rule's `kind` ingestor (an `_INGESTS` flag),
        stateful in an AppendLog under the store root (survives
        restarts; replay-idempotent via its committed-batch manifest)."""
        key = (kind, rule.target_name)
        ing = self._ingestors.get(key)
        if ing is None:
            state_dir, build = _INGESTS[kind]
            log = AppendLog(os.path.join(self.store.root, state_dir))
            ing = self._ingestors[key] = build(rule, log)
        return ing

    def migrate_bm25_positions(self, target_name: str) -> None:
        """Upgrade a rule's standing BM25 index to the positional layout
        in place. The shell retains exactly what the index-level
        migration needs — the live corpus IS the rule's published target
        table — so the config-flip workflow is: set `bm25_positions`
        true on the rule, run this once (offline, same single-writer
        window as the maintenance cycle), and the stream continues
        positional; without it the next batch refuses with the
        layout-mix error that names this path. Fidelity is verified by
        the index-level migration (the target's text must re-tokenize
        to the standing postings exactly), so a target whose text
        column drifted from what was indexed raises instead of serving
        silently wrong phrase positions."""
        rule = next(
            (r for r in self.rules if r.target_name == target_name), None
        )
        if rule is None:
            raise ValueError(f"no sync rule targets {target_name!r}")
        corpus = self.store.read(self.spark, target_name)
        if corpus is None:
            raise ValueError(
                f"target {target_name!r} has no published rows to "
                "rebuild positions from"
            )
        self._ingestor(rule, "bm25_ingest").migrate_positions(
            corpus.select(rule.primary_key[0], rule.bm25_text_column)
        )

    def _apply_quality_gate(
        self, parsed: DataFrame, rule: SyncRule, batch_id
    ) -> DataFrame:
        """Ingest-time document quality gate (functions/text.gopher_flag_cols):
        batch rows failing the rule filters never reach any target; they
        land — payload plus audit flags — in <table>_rejected, the
        quarantine channel (the curation analog of the delete stream:
        dropped, but auditable and replayable). Delete images carry no
        text and always pass through.

        Gating is PER ROW, not per key: a CDC micro-batch routinely
        carries several images of one pk (insert then update) with
        different text, and each image is kept or quarantined on its own
        text — a key-level join would cross-product images × flag rows
        and let any passing image vouch for a failing update. Because the
        flags are plain column expressions attached in place, the gate is
        a map-only filter: zero joins, zero shuffles, at any scale.
        Threshold overrides ride the rule's `quality_*` extra keys.
        Replay-safe like the delete log: the quarantine is an O(|batch|)
        manifest-guarded append under BOTH store modes (the copy-on-write
        store routes it through its own AppendLog)."""
        from ..functions.text import gopher_flag_cols

        kw = {}
        for k in ("min_words", "max_words", "min_mean_word_len",
                  "max_mean_word_len", "min_ttr", "min_req_stopwords"):
            v = rule.extra.get(f"quality_{k}")
            if v is not None:
                kw[k] = float(v) if "len" in k or "ttr" in k else int(v)
        docs = _non_deletes(parsed)
        flags = gopher_flag_cols(rule.dedup_text_column, **kw)
        flagged = docs.select(
            "*", *[c.alias(n) for n, c in flags.items()]
        )
        # NULL-text policy: a non-delete image with NULL text evaluates
        # every flag (and keep) to NULL, which both filters below would
        # drop — the row would vanish from the pipeline with no audit
        # trail. Coalesce keep to an explicit QUARANTINE decision, with
        # `null_text` as the audit flag (the other flags are NULL, which
        # is itself the "never measured" signal).
        keep = F.coalesce(F.col("keep"), F.lit(False))
        rejected = (
            flagged.filter(~keep)
            .withColumn("null_text", F.col("keep").isNull())
            .drop("keep")
        )
        self.store.publish_append(
            rejected, f"{rule.target_name}_rejected", batch_id
        )
        passing = flagged.filter(keep).drop(*flags.keys())
        if OP_COL in parsed.columns:
            passing = passing.unionByName(
                parsed.filter(F.col(OP_COL) == DELETE_OP)
            )
        return passing

    # -- per-table task ----------------------------------------------------
    def _batch_census(self, batch_df: DataFrame) -> tuple[int, set]:
        """The batch's entry census, ONE job over the cached batch: returns
        (total rows, the routed (db, table) keys), observed on a `noop`
        write, so no shuffle and no re-planned stages. It is the first
        action on the persisted batch, so it also materializes the cache
        every rule task then reads, and the total decides whether the
        batch is empty.

        A row is routed under the format spec's gates — the ones the
        fused parse applies, plus a non-empty image array — so a routed
        key implies a non-empty parse (keys alone would let an
        op-filtered-out event — a Canal DDL, an unknown Debezium op —
        publish empty target versions). Every rule resolves its table
        names against these keys (SyncRule.matches) instead of running
        its own isEmpty probe (the A1/A2 probe, redshift_sink.py:585): at
        an N-rule fan-out, 1 job instead of N."""
        spec = self._format
        field = envelopes.json_fields()
        key = F.struct(field(spec.db).alias("db"), field(spec.table).alias("tb"))
        census = Observation()
        batch_df.observe(
            census,
            F.count(F.lit(1)).alias("rows"),
            # a NULL predicate (missing field, non-JSON row) is unrouted:
            # the NULL the CASE yields is no set element
            F.collect_set(F.when(spec.yields_rows(field), key)).alias("routed"),
        ).write.format("noop").mode("overwrite").save()
        got = census.get
        return got["rows"], {(k["db"], k["tb"]) for k in got["routed"]}

    def _run_table(
        self, batch_df: DataFrame, rule: SyncRule, job_group: str,
        batch_id: int, names: list[str],
    ) -> TaskStatus:
        """Sync `rule` from the batch rows of `names`, the routed census
        tables it matches; none is no-data (a routed table holds at least
        one row the parse keeps)."""
        if not names:
            return TaskStatus(rule.target_name, "no-data")
        try:
            # tag every Spark job this task submits so the batch watchdog
            # can cancel them (thread-local property; interruptOnCancel
            # interrupts the running task threads)
            self.spark.sparkContext.setJobGroup(
                job_group, f"cdc sync {rule.target_name}", interruptOnCancel=True
            )
            # the declared payload schema, else one inferred from the
            # batch; the state folds re-parse with this same schema
            schema = self.payload_schemas.get(rule.target_name)
            if schema is None and self._format.typed:
                schema = infer_payload_schema(
                    batch_df, self.cdc_format, rule.db, names,
                    sample_limit=self.infer_sample_limit,
                )
                if schema is None:
                    return TaskStatus(rule.target_name, "no-data")
            parsed = route_parse(
                batch_df, self.cdc_format, rule.db, names, schema
            )
            parsed = apply_rule_conversions(parsed, rule)
            if rule.quality_gate:
                parsed = self._apply_quality_gate(parsed, rule, batch_id)

            # every CDC format emits ts_ms; data_index_aws breaks its ties
            order = [TS_COL] + (
                [TIEBREAK_COL] if TIEBREAK_COL in parsed.columns else []
            )
            n = 0
            if self.jdbc_sink is not None:
                if not rule.only_save_delete:
                    updates = lww_dedup(parsed, list(rule.primary_key), order)
                    updates = updates.drop(TIEBREAK_COL)  # P4; absent: no-op
                    self.jdbc_sink.apply_batch(
                        updates, db=rule.db, table=rule.target_name,
                        keys=list(rule.primary_key),
                        skip_delete=rule.skip_delete,
                    )
                if rule.save_delete or rule.only_save_delete:
                    dels = latest_deletes(parsed, list(rule.primary_key), order)
                    self.jdbc_sink.append_table(dels, f"{rule.target_name}_delete")
                return TaskStatus(rule.target_name, "finished")
            if not rule.only_save_delete and hasattr(self.store, "publish_delta"):
                # merge-on-read target (MergeOnReadTargetStore): the batch
                # appends its LWW-deduped changelog as a delta — O(|batch|)
                # written, the standing target untouched; resolution happens
                # at read, and the periodic compaction cycle folds deltas
                # into the base. Replay-idempotent: the delta commit is
                # guarded by the AppendLog manifest, and re-applying a
                # folded batch re-picks identical winners by construction.
                updates = lww_dedup(parsed, list(rule.primary_key), order)
                if rule.ignore_ddl:
                    base = self.store.read(self.spark, rule.target_name)
                    if base is not None:
                        updates = cast_to_target(
                            updates, base.schema,
                            passthrough=BOOKKEEPING,
                        )
                self.store.publish_delta(
                    updates, rule.target_name, batch_id,
                    keys=list(rule.primary_key),
                    skip_delete=rule.skip_delete,
                )
            elif not rule.only_save_delete:
                # the merge takes the converted rows un-deduped: its LWW
                # window over target ∪ updates is one hash shuffle, so the
                # batch is parsed once. That shuffle moves the whole target:
                # it wins while the target is small enough that moving it
                # costs less than the extra job and second parse of the
                # anti-join's broadcast key side; a large target is
                # unmeasured
                updates = parsed
                target = self.store.read(self.spark, rule.target_name)
                if target is not None:
                    incoming = T.StructType(
                        [f for f in updates.schema.fields if f.name not in BOOKKEEPING]
                    )
                    if rule.ignore_ddl:
                        # fixed-schema mode: cast incoming to the target's
                        # types, extra columns dropped and missing target
                        # columns null-filled with the target's types
                        # (redshift_schema_evolution.py:137-155)
                        updates = cast_to_target(
                            updates, target.schema, passthrough=BOOKKEEPING
                        )
                    else:
                        # schema evolution: ADD new columns to the target
                        # (null-filled) and DROP removed ones
                        # (redshift_schema_evolution.py:57-69, 188-211)
                        d = diff_schemas(incoming, target.schema)
                        if not d.empty:
                            by_name = {f.name: f for f in incoming.fields}
                            for c in d.add:
                                target = target.withColumn(
                                    c, F.lit(None).cast(by_name[c].dataType)
                                )
                            target = target.drop(*d.drop)
                if target is None:
                    # a first batch is the LWW winners; under skip_delete a
                    # delete winner upserts, as in the merge
                    out = lww_dedup(updates, list(rule.primary_key), order)
                    if not rule.skip_delete:
                        out = out.filter(F.col(OP_COL) != DELETE_OP)
                    out = out.drop(*BOOKKEEPING)  # absent columns: no-op
                else:
                    out = merge_changes(
                        target,
                        updates,
                        list(rule.primary_key),
                        skip_delete=rule.skip_delete,
                        order_by=order,
                    )
                # the row count rides the publish write itself (no re-read
                # or second evaluation of the merge)
                written = Observation()
                out = out.observe(written, F.count(F.lit(1)).alias("n"))
                self.store.publish(out, rule.target_name)
                n = written.get["n"]
            if rule.scd2_history:
                # SCD2 dimension history alongside the latest-state target:
                # close the open version for every batch key, append the
                # batch's own versions (operators/merge.py scd2_merge_batch;
                # replaying batches == one-shot scd2_history, property-
                # tested). Uses ALL batch events, not the LWW-deduped set —
                # every intermediate state is a version; data_index_aws is
                # kept as the equal-timestamp tiebreak (same order contract
                # as lww_dedup/merge_changes) and dropped by the operator.
                htable = f"{rule.target_name}_history"
                tiebreak = [c for c in order[1:] if c in parsed.columns]
                if hasattr(self.store, "publish_scd2_delta"):
                    # merge-on-read history: append the batch's raw events
                    # (O(|batch|) written); resolution — close open
                    # versions, append new ones — happens at read via one
                    # scd2_merge_batch over base + accumulated deltas, and
                    # the maintenance fold materializes it. Replay guard
                    # spans folds via has_applied (delta manifest OR the
                    # base pointer's last folded batch id).
                    self.store.publish_scd2_delta(
                        parsed, htable, batch_id,
                        keys=list(rule.primary_key),
                        tiebreak_cols=tiebreak,
                    )
                else:
                    # copy-on-write history is read-modify-append: the
                    # guard keeps a checkpoint retry from re-closing or
                    # re-appending what attempt one already landed
                    self._fold_table(
                        htable, batch_id,
                        lambda prev: scd2_merge_batch(
                            prev, parsed, list(rule.primary_key),
                            tiebreak_cols=tiebreak,
                        ),
                    )
            self._fold_derived(batch_df, rule, parsed, schema, batch_id, names)
            kinds = [k for k in _INGESTS if getattr(rule, k)]
            if kinds:
                # CDC-correct ingest feed for the derived-state family:
                # the batch's LWW-LATEST image per key (a micro-batch
                # routinely carries several images of one pk — only the
                # final state may index), plus the batch's updated/
                # deleted keys as TOMBSTONES (an update is delete+insert
                # for per-doc derived state: the old postings/bands/
                # vectors die, the new image re-indexes in this same
                # batch). All three ingests apply the merge-on-read
                # tombstone pattern (streaming/tombstones.py); replay-
                # idempotent via each log's committed-batch manifest.
                images = lww_dedup(parsed, list(rule.primary_key), order)
                docs = _non_deletes(images)
                tombs = (
                    images.filter(F.col(OP_COL).isin(UPDATE_OP, DELETE_OP))
                    .select(rule.primary_key[0])
                    if OP_COL in images.columns else None
                )
                for kind in kinds:
                    self._ingestor(rule, kind).process_batch(
                        docs, batch_id, tombstones=tombs
                    )
            if rule.save_delete or rule.only_save_delete:
                dels = latest_deletes(parsed, list(rule.primary_key), order)
                dtable = f"{rule.target_name}_delete"  # redshift_sink.py:242-253
                # the delete log is pure append under BOTH store modes:
                # O(|batch|) written, replay-guarded by the append manifest
                # + the fold-spanning base-pointer guard — never the old
                # O(|deletes-ever|) read-union-dedup-republish. Accrued
                # delta dirs fold into the base in the maintenance cycle.
                self.store.publish_append(dels, dtable, batch_id)
            return TaskStatus(rule.target_name, "finished", rows=n)
        except Exception as e:  # noqa: BLE001 - reported to fail-fast logic
            _log.error("sync of %r failed in batch %s", rule.target_name,
                       batch_id, exc_info=e)
            # repr() of a PySpark error is its bare class name
            return TaskStatus(
                rule.target_name, "error", error=f"{type(e).__name__}: {e}"
            )

    def _needs(self, table: str, batch_id) -> bool:
        """False when `table`'s pointer already records `batch_id` (it is
        committed atomically with the publish: see store.last_batch_id)."""
        return batch_id is None or self.store.last_batch_id(table) != batch_id

    def _fold_table(self, table: str, batch_id, build) -> None:
        """The read-fold-publish step of a table the batch folds into:
        publish `build(previous version or None)` with `batch_id` in the
        same pointer flip, unless this table already holds the batch.
        Each table carries its own guard, so a retry after a crash
        between two tables' publishes folds exactly the tables that
        missed the batch — one guard shared by several tables would skip
        the later ones for good."""
        if self._needs(table, batch_id):
            prev = self.store.read(self.spark, table)
            self.store.publish(build(prev), table, batch_id=batch_id)

    def _fold_derived(
        self, batch_df: DataFrame, rule: SyncRule, parsed: DataFrame,
        schema: T.StructType | None, batch_id, names: list[str],
    ) -> None:
        """Fold the batch into the rule's derived tables (_derived_folds)
        in O(|groups| + |batch|) each, the corpus never rescanned."""
        event, state = _derived_folds(rule, self._format)
        keys = list(rule.stats_group_columns)
        obs = _non_deletes(parsed)
        for suffix, field, sketch, fold in event:
            col = getattr(rule, field)
            if sketch is None:  # _topk, ranked by the _cms just folded
                cms = f"{rule.target_name}_cms"
                self._fold_table(
                    rule.target_name + suffix, batch_id,
                    lambda prev: fold(
                        prev, obs, self.store.read(self.spark, cms), keys, col
                    ),
                )
            else:
                self._fold_table(
                    rule.target_name + suffix, batch_id,
                    lambda prev: fold(prev, sketch(obs, keys, col), keys),
                )
        # the state family shares one re-parse WITH before images (only
        # this rule pays it, and only while some state table still needs
        # the batch). No rule typeconv here: the census casts the value
        # itself, and conversions applied to the FLAT columns but not the
        # nested before image would break the retract/assert symmetry.
        state = [
            e for e in state
            if self._needs(rule.target_name + e[0], batch_id)
        ]
        if not state:
            return
        withb = route_parse(
            batch_df, self.cdc_format, rule.db, names, schema, emit_before=True
        )
        for suffix, field, sketch, fold in state:
            col = getattr(rule, field)
            self._fold_table(
                rule.target_name + suffix, batch_id,
                lambda prev: fold(prev, sketch(withb, keys, col), keys),
            )

    # -- batch loop --------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int,
                      *, batch_timeout_sec: float | None = None) -> list[TaskStatus]:
        batch_df = batch_df.persist()
        group = f"cdc-batch-{batch_id}"
        pool = cf.ThreadPoolExecutor(max_workers=self.max_workers)
        try:
            # one census job over the whole batch: materializes the cache
            # for all tasks, decides emptiness and lists the routed
            # (db, table) keys each rule resolves its names against, on
            # the driver — no rule runs its own probe job, and a replay
            # routes each rule to the same names
            with _job_group(
                self.spark.sparkContext, group, f"cdc batch {batch_id} census"
            ):
                total, routed = self._batch_census(batch_df)
            if not total:  # empty batch: nothing to merge or maintain
                self.batch_statuses.append([])
                return []
            futs = [
                pool.submit(
                    self._run_table, batch_df, rule, group, batch_id,
                    sorted(t for d, t in routed if rule.matches(d, t)),
                )
                for rule in self.rules
            ]
            try:
                statuses = [
                    f.result()
                    for f in cf.as_completed(futs, timeout=batch_timeout_sec)
                ]
            except TimeoutError:
                # watchdog ABORT (T8): cancel the Spark jobs tagged with
                # this batch's job group so the hung actions actually stop,
                # and drop the pool WITHOUT waiting — a plain context-exit
                # would block in shutdown(wait=True) behind the stuck task,
                # reducing the timeout to a report instead of a bound
                self.spark.sparkContext.cancelJobGroup(group)
                pool.shutdown(wait=False, cancel_futures=True)
                raise RuntimeError(
                    f"batch {batch_id} exceeded batch_timeout_sec="
                    f"{batch_timeout_sec}; spark jobs cancelled"
                ) from None
            pool.shutdown(wait=True)
        finally:
            pool.shutdown(wait=False)  # idempotent; covers non-timeout errors
            batch_df.unpersist()
        errors = [s for s in statuses if s.status == "error"]
        self.batch_statuses.append(statuses)
        if errors:
            raise RuntimeError(f"batch {batch_id} failed: {errors}")
        with _job_group(
            self.spark.sparkContext, f"cdc-maint-{batch_id}",
            f"cdc batch {batch_id} maintenance",
        ):
            self._maybe_compact()
            self._maybe_fold_backstop()
            self._maybe_prune_versions()
        return statuses

    def _maintenance_failed(self, table: str, error: Exception) -> None:
        """Maintenance never fails a batch whose data already committed:
        the error is recorded in `compact_errors`, logged, and the step
        retried by the next cycle."""
        self.compact_errors.append((table, repr(error)))
        _log.warning("maintenance of %r failed, retried next cycle: %r",
                     table, error, exc_info=error)

    def _maybe_prune_versions(self) -> None:
        """Version-chain retention, enforced after EVERY successful batch
        (not just the compaction cycle — a job with no compaction cadence
        configured must still not grow a full-corpus copy per publish).
        The prune itself is a driver-side listdir + rmtree of at most the
        few directories the last batch added, so per-batch cost is
        negligible next to the publish it trails; keep >= 2 leaves the
        previous version for any reader that resolved the pointer just
        before the flip (store.prune_versions' contract). A prune error
        is maintenance, not data loss: recorded and retried next batch."""
        if self.keep_versions is None:
            return

        def prune(t: str) -> None:
            try:
                # upgrade loudness (r11 ADVICE): a job that accrued a long
                # version chain under the old keep-all default starts
                # deleting replay/audit history on its first prune after
                # an upgrade — say so ONCE per table, before it happens,
                # with the opt-out spelled out. A steadily-pruned chain
                # holds at most keep+1 dirs when the prune runs, so a
                # longer chain here is pre-existing history.
                if t not in self._prune_warned:
                    self._prune_warned.add(t)
                    chain = len(self.store.versions_on_disk(t))
                    if chain > self.keep_versions + 1:
                        _log.warning(
                            "retention: table %r has %d version dirs "
                            "(pre-existing history); keep_versions=%d "
                            "will prune all but the newest %d (plus a "
                            "%.0fs grace window). Set "
                            "keep_versions='all' to keep every "
                            "version for replay audits.",
                            t, chain, self.keep_versions,
                            self.keep_versions, self.prune_grace_sec,
                        )
                self.store.prune_versions(
                    t, keep=self.keep_versions,
                    min_age_sec=self.prune_grace_sec,
                )
            except Exception as e:  # noqa: BLE001 - maintenance only
                self._maintenance_failed(t, e)

        # concurrent like the other maintenance: at wide fan-outs the
        # rmtree of a full copy-on-write version dir per table is the
        # cost, and the dirs are disjoint
        self._for_each_table(prune, list(self._maintained_tables()))

    def _maintained_tables(self) -> dict[str, tuple]:
        """{table: z-order columns} for every table the rules can have
        published — the one list prune, fold backstop and compaction
        share: the target (clustered by the rule's zorder_columns), the
        suffix tables the rule's flags enable, and its derived tables
        from the same _derived_folds that _run_table folds, so no
        published table escapes maintenance. One entry per table NAME,
        first rule wins: two rules sharing a table (a shared target, or
        a target colliding with another rule's suffix table) must not
        maintain it twice concurrently, racing its pointer, and the
        winning clustering is the one a config reader sees first."""
        out: dict[str, tuple] = {}
        for rule in self.rules:
            t = rule.target_name
            out.setdefault(t, tuple(rule.zorder_columns))
            event, state = _derived_folds(rule, self._format)
            for suffix, on in (
                ("_delete", rule.save_delete or rule.only_save_delete),
                ("_history", rule.scd2_history),
                ("_rejected", rule.quality_gate),
                *((e[0], True) for e in event + state),
            ):
                if on:
                    out.setdefault(t + suffix, ())
        return out

    def _maybe_fold_backstop(self) -> None:
        """Fold any table whose unfolded delta count reached
        `max_deltas_before_fold` — the cadence-independent cap on
        merge-on-read / append-log read amplification. A fold error is
        maintenance, not data loss: recorded and retried next batch, like
        compaction."""
        cap = self.max_deltas_before_fold
        if not cap:
            return

        def fold(t: str) -> None:
            try:
                if self.store.delta_count(t) >= cap:
                    self.store.fold_deltas(self.spark, t)
            except Exception as e:  # noqa: BLE001 - maintenance only
                self._maintenance_failed(t, e)

        self._for_each_table(fold, list(self._maintained_tables()))

    def _for_each_table(self, fn, items) -> None:
        """Run independent per-table maintenance CONCURRENTLY on the
        processor's pool width. The r11 fan-out probe measured the
        serial per-table fold tail at 18.5 s of a 45.6 s wall (40%)
        for 30 merge-on-read tables — at the reference's ~100-rule
        shape a serial maintenance loop walls O(tables), while each
        table's fold/compact is an independent Spark job that local[*]
        (or a cluster) overlaps fine. `items` must be distinct tables
        (or rules owning distinct state): distinct tables touch disjoint
        directories/manifests, so concurrency is safe by construction;
        `fn` must record its own errors (maintenance never fails the
        batch). Every item runs under the caller's job group: a pool
        thread does not inherit the caller's local properties, so each
        worker copies them before it submits a job."""
        if len(items) <= 1:
            for t in items:
                fn(t)
            return
        sc = self.spark.sparkContext
        group = [sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS]

        def run(item) -> None:
            for key, value in zip(_JOB_GROUP_KEYS, group):
                sc.setLocalProperty(key, value)
            fn(item)

        with cf.ThreadPoolExecutor(
            max_workers=min(self.max_workers, len(items))
        ) as pool:
            list(pool.map(run, items))

    def _maybe_compact(self) -> None:
        if not self.compact_every_n_batches:
            return
        self._batches_since_compact += 1
        if self._batches_since_compact < self.compact_every_n_batches:
            return
        self._batches_since_compact = 0
        from ..operators.layout import compact_table

        def maintain(item: tuple[str, tuple]) -> None:
            t, zcols = item
            # maintenance must not fail a batch whose data work already
            # committed: a transient compaction error is recorded, not
            # raised (the next cycle retries it). Non-transient
            # zorder_columns misconfiguration never lands here:
            # compact_table degrades it to size-only compaction with a
            # warning, so small files cannot accrue indefinitely.
            try:
                # fold any accumulated deltas (merge-on-read targets;
                # append tables under either store mode) into the base
                # first, then size/cluster-compact the fresh base like
                # any other table
                self.store.fold_deltas(self.spark, t)
                compact_table(
                    self.store, self.spark, t,
                    target_bytes=self.compact_target_bytes,
                    zorder_cols=list(zcols) or None,
                )
            except Exception as e:  # noqa: BLE001
                self._maintenance_failed(t, e)

        # every table folds/compacts CONCURRENTLY: each is an independent
        # Spark job over its own directories
        self._for_each_table(maintain, list(self._maintained_tables().items()))

        def maintain_ingestors(rule: SyncRule) -> None:
            # one serial chain PER RULE (maintain may swap the version
            # compact_state then folds), run concurrently ACROSS rules —
            # each rule's ingestors own disjoint AppendLog state, the
            # same independence the per-table loop above exploits
            for kind, (state_dir, _build) in _INGESTS.items():
                if not getattr(rule, kind):
                    continue
                # the ANN drift loop rides the same maintenance economics
                # as re-clustering: measure, and rebuild+swap only when
                # the size-weighted centroid similarity fell below the
                # rule's floor (VersionedAnnIndex.maintain). Then the
                # AppendLog-backed state, which accrues one directory per
                # ingested batch, segment-merges and folds its
                # tombstones (AppendLog.compact keeps the committed-batch
                # ids, so replay skipping survives — the r5
                # compaction-vs-replay lesson)
                steps = [(state_dir, "compact_state")]
                if kind == "ann_ingest":
                    steps.insert(0, ("_ann_index", "maintain"))
                for label, step in steps:
                    try:
                        getattr(self._ingestor(rule, kind), step)(self.spark)
                    except Exception as e:  # noqa: BLE001
                        self._maintenance_failed(f"{rule.target_name}{label}", e)

        ingest_rules = dict.fromkeys(
            r for r in self.rules if any(getattr(r, k) for k in _INGESTS)
        )
        self._for_each_table(maintain_ingestors, list(ingest_rules))


def start_batches(
    stream: DataFrame,
    processor: CdcBatchProcessor,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    processing_time: str | None = None,
    batch_timeout_sec: float | None = None,
):
    """Start `stream` (one `value: string` column, any source) as a
    checkpointed (T3) foreachBatch(processor) query: bounded (availableNow,
    T2) or continuous (processingTime, T1; default 30 seconds). Returns
    the StreamingQuery."""
    writer = (
        stream.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, bid: processor.process_batch(
                df, bid, batch_timeout_sec=batch_timeout_sec
            )
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time or "30 seconds")
    return writer.start()


def run_file_stream(
    spark: SparkSession,
    source_dir: str,
    processor: CdcBatchProcessor,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
    batch_timeout_sec: float | None = None,
):
    """`start_batches` over a directory of JSON-lines files — the same
    `value: string` contract as the Kafka source.
    `max_files_per_trigger` is the file-source analog of the Kafka
    `maxOffsetsPerTrigger` rate limit (T4): it bounds each micro-batch."""
    reader = spark.readStream.schema("value string")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return start_batches(
        reader.text(source_dir).toDF("value"), processor, checkpoint_dir,
        available_now=available_now, processing_time=processing_time,
        batch_timeout_sec=batch_timeout_sec,
    )
