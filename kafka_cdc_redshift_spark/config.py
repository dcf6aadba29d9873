"""Sync-catalog: config-driven table registry.

Parity with the reference's ``sync_table_list`` JSON (parsed at
cdc_util/redshift_sink.py:552-579; example config/job-ec2.properties:30-33):
each rule declares the source db/table, primary key column(s), optional
target-table override, delete-handling mode, and column-level type
annotations (super/json, timestamp, date).

A rule's table is interpreted in one place, `SyncRule.matches`: an equal
name matches, else the name is a Python regex that must match the whole
table name (`re.fullmatch`; the reference allows regex table names,
README.md:42). The streaming shell evaluates it on the driver over the
table names each batch holds, so `a.b` also matches `axb`; spell a literal
dot `a\\.b`. A name that is not a valid regex (`t[1`) matches only itself.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

DEFAULT_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"  # cdc_util/redshift_sink.py:178


@dataclass(frozen=True)
class SyncRule:
    """One entry of the sync catalog (cdc_util/redshift_sink.py:552-579)."""

    db: str
    table: str  # equal name, else a whole-name Python regex (see matches)
    primary_key: tuple[str, ...]
    target_table: str | None = None
    ignore_ddl: bool = False      # fixed-schema mode: cast to target types
    save_delete: bool = False     # also append delete images to <table>_delete
    only_save_delete: bool = False
    skip_delete: bool = False     # intended semantics: keep deletes as upserts
    scd2_history: bool = False    # also maintain <table>_history (SCD type 2)
    super_columns: tuple[str, ...] = ()       # JSON-string passthrough columns
    timestamp_columns: tuple[str, ...] = ()   # string -> timestamp
    timestamp_format: str = DEFAULT_TS_FORMAT
    date_columns: tuple[str, ...] = ()        # epoch-days int -> date
    # clustering maintenance: when the job's periodic compaction rewrites
    # this rule's target, re-cluster it on the z-order curve of these
    # columns (the Spark-side analog of the reference's sortkey choice,
    # restored each VACUUM cycle — see operators/layout.compact_table)
    zorder_columns: tuple[str, ...] = ()
    # streaming near-dup ingest: run each batch's non-delete images
    # through incremental MinHash-LSH against the standing corpus and
    # fold them in (streaming/dedup_ingest.py). The rule's first primary
    # key is the doc id; `dedup_text_column` is the content column.
    dedup_ingest: bool = False
    dedup_text_column: str = "text"
    # LSH tuning for the shell's dedup ingest, .properties-drivable (r11
    # verdict: the hot-bucket guard existed but the production path
    # could not reach it without code). Semantics match
    # functions/dedup_text.minhash_lsh_pairs. None = NOT SPECIFIED: the
    # shell then uses the state's standing params manifest if one exists
    # (an upgraded deployment keeps working with the parameters its
    # index was built with), else the bounded shell defaults
    # (streaming/job.SHELL_LSH_DEFAULTS — max_bucket=64: at corpus
    # scale thousands of boilerplate / near-empty docs share a band
    # bucket and the candidate join goes quadratic in one reducer;
    # capping drops candidates from only those degenerate buckets, a
    # RECALL trade documented there). An EXPLICIT key that mismatches a
    # standing manifest refuses at ingest, pointing at migrate_lsh —
    # the no-silent-layout-mix contract. Spell max_bucket 0/"none" for
    # unbounded exact recall (the library default for one-shot batch
    # queries).
    dedup_lsh_n: int | None = None
    dedup_lsh_num_hashes: int | None = None
    dedup_lsh_band_size: int | None = None
    dedup_lsh_threshold: float | None = None
    # sentinel "unspecified" distinct from None ("explicitly unbounded")
    dedup_lsh_max_bucket: int | str | None = "unset"
    # streaming ANN ingest (streaming/ann_ingest.VersionedAnnIndex): keep
    # an incremental IVF index over `ann_vec_column` (first primary key =
    # vector id). Centroids train on the first batch and persist; the
    # maintenance cycle measures centroid drift and, when the size-
    # weighted similarity drops below `ann_drift_floor`, retrains and
    # atomically swaps a fresh index version (0 disables the rebuild
    # loop; the drift signal stays measurable).
    ann_ingest: bool = False
    ann_vec_column: str = "embedding"
    ann_n_centroids: int = 8
    ann_drift_floor: float = 0.0
    # ...with ann_pq_n_sub > 0 each version ALSO trains per-subspace PQ
    # codebooks (k-means on vector slices, same deterministic trainer)
    # and maintains the compressed code relation alongside the IVF
    # cells; a drift rebuild retrains codebooks with the centroids, so
    # the codes follow the same versioned-swap lifecycle. 0 = IVF only.
    ann_pq_n_sub: int = 0
    ann_pq_n_codes: int = 16
    # ingest quality gate: drop batch documents failing the Gopher-style
    # rule filters (functions/text.gopher_flags over `dedup_text_column`)
    # BEFORE they reach any target; rejected docs land, with their audit
    # flags, in <table>_rejected. Threshold overrides ride the rule's
    # extra keys: quality_min_words, quality_max_words,
    # quality_min_mean_word_len, quality_max_mean_word_len,
    # quality_min_ttr, quality_min_req_stopwords.
    quality_gate: bool = False
    # incremental aggregate maintenance: keep <table>_stats — mergeable
    # per-group stats of `stats_value_column` grouped by
    # `stats_group_columns` — folded algebraically per batch
    # (functions/incremental.py). Every derived table below (this one,
    # _ndv, _qsk, _cms, _topk, _sample, _bloom, _state_*) is its own
    # batch-id-guarded fold (streaming/job.py _EVENT_FOLDS /
    # _STATE_FOLDS), so an at-least-once retry folds each table at most
    # once. Contract: append-only feeds (each non-delete image counted
    # once).
    stats_group_columns: tuple[str, ...] = ()
    stats_value_column: str | None = None
    # ...and <table>_ndv: per-group DISTINCT count of this column kept as
    # a mergeable HyperLogLog sketch (idempotent register union — the
    # only way a distinct count survives incremental maintenance and
    # at-least-once replay). Requires stats_group_columns.
    stats_distinct_column: str | None = None
    # ...and <table>_qsk: per-group QUANTILES of this column kept as a
    # mergeable log-bucket histogram sketch (functions/incremental
    # group_quantile_sketch — counts add, so batches fold in
    # O(|groups|+|batch|) and read-time estimates are deterministic).
    # Requires stats_group_columns.
    stats_quantile_column: str | None = None
    # ...and <table>_cms + <table>_topk: per-group Count-Min frequency
    # sketch of this column plus the standing top-m candidate set
    # (functions/incremental group_freq_sketch / topk_candidates —
    # counters add, so batches fold in O(|groups|+|batch|); estimates
    # are one-sided >= truth). Requires stats_group_columns.
    stats_topk_column: str | None = None
    # ...and <table>_sample: per-group KMV bottom-k uniform sample of
    # this column's distinct values plus an oracle-replayable NDV
    # estimator (functions/incremental group_sample_sketch — min-of-
    # union folds, so merging is associative+commutative+IDEMPOTENT).
    # Requires stats_group_columns.
    stats_sample_column: str | None = None
    # ...and <table>_bloom: a standing Bloom membership bitset over this
    # column's values (functions/membership.py — bit_or folds, so merging
    # is associative+commutative+IDEMPOTENT like the KMV table). The
    # O(1)-probe answer to "was this value ever ingested" without
    # touching the target: a miss is a certified never-seen, a hit
    # routes to the exact check. Independent of stats_group_columns —
    # the bloom is table-global (membership has no group axis).
    stats_bloom_column: str | None = None
    # ...and <table>_state_stats: CURRENT-STATE per-group stats tracked
    # through updates AND deletes by folding signed retract/assert
    # deltas from the CDC before/after images (functions/incremental
    # group_stats_cdc — requires a before-emitting source, e.g. real
    # Debezium; updates without a before image degrade to append
    # semantics for that row). Requires stats_group_columns +
    # stats_value_column and a Debezium-format source. The plain
    # <table>_stats stays an EVENT census.
    stats_current_state: bool = False
    # streaming BM25 inverted-index ingest (streaming/retrieval_ingest):
    # append each batch's (doc, dl, term, tf) postings to a standing
    # lexical index over `bm25_text_column` (first primary key = doc id);
    # df/avgdl derive from the postings at query time so serving is
    # always corpus-consistent. Append-only contract like dedup_ingest.
    bm25_ingest: bool = False
    bm25_text_column: str = "text"
    # store Lucene-style positional posting lists (same row cardinality,
    # one extra sorted-int-array column) so the standing index serves
    # exact PHRASE queries next to BM25 (RetrievalIngest.phrase_match)
    bm25_positions: bool = False
    extra: dict = field(default_factory=dict, compare=False, hash=False)

    @property
    def target_name(self) -> str:
        return self.target_table or self.table

    def matches(self, db: str | None, table: str | None) -> bool:
        """Does this rule route (db, table)? An equal name, else
        `re.fullmatch` of the rule's table; an invalid regex matches only
        its equal name."""
        if db != self.db or table is None:
            return False
        if table == self.table:
            return True
        try:
            return re.fullmatch(self.table, table) is not None
        except re.error:
            return False


def _split(v: str | None) -> tuple[str, ...]:
    if not v:
        return ()
    return tuple(c.strip() for c in str(v).split(",") if c.strip())


def _flag(v) -> bool:
    # The reference compares against the string "true"; one site compares
    # "ture" (cdc_util/redshift_sink.py:456) — we implement the intended check.
    return str(v).strip().lower() in ("true", "1", "yes")


def parse_sync_rules(sync_table_list: str | list) -> list[SyncRule]:
    """Parse the ``sync_table_list`` JSON array into SyncRule objects.

    Accepts the raw JSON string from a .properties job config or an
    already-parsed list of dicts.
    """
    items = json.loads(sync_table_list) if isinstance(sync_table_list, str) else sync_table_list
    rules = []
    for it in items:
        ts_cols, ts_fmt = (), DEFAULT_TS_FORMAT
        raw_ts = it.get("timestamp_columns", "")
        # per-column format override syntax "col1,col2|fmt" (redshift_sink.py:170-190)
        if "|" in str(raw_ts):
            cols, ts_fmt = str(raw_ts).split("|", 1)
            ts_cols = _split(cols)
        else:
            ts_cols = _split(raw_ts)
        rules.append(
            SyncRule(
                db=it["db"],
                table=it["table"],
                primary_key=_split(it.get("primary_key", "")),
                target_table=it.get("target_table") or None,
                ignore_ddl=_flag(it.get("ignore_ddl", False)),
                save_delete=_flag(it.get("save_delete", False)),
                only_save_delete=_flag(it.get("only_save_delete", False)),
                skip_delete=_flag(it.get("skip_delete", False)),
                scd2_history=_flag(it.get("scd2_history", False)),
                super_columns=_split(it.get("super_columns", "")),
                timestamp_columns=ts_cols,
                timestamp_format=ts_fmt or DEFAULT_TS_FORMAT,
                date_columns=_split(it.get("date_columns", "")),
                zorder_columns=_split(it.get("zorder_columns", "")),
                dedup_ingest=_flag(it.get("dedup_ingest", False)),
                dedup_text_column=it.get("dedup_text_column") or "text",
                # absent keys stay None/"unset" (= defer to the standing
                # params manifest, else the shell defaults)
                dedup_lsh_n=(
                    int(it["dedup_lsh_n"]) if "dedup_lsh_n" in it else None
                ),
                dedup_lsh_num_hashes=(
                    int(it["dedup_lsh_num_hashes"])
                    if "dedup_lsh_num_hashes" in it else None
                ),
                dedup_lsh_band_size=(
                    int(it["dedup_lsh_band_size"])
                    if "dedup_lsh_band_size" in it else None
                ),
                dedup_lsh_threshold=(
                    float(it["dedup_lsh_threshold"])
                    if "dedup_lsh_threshold" in it else None
                ),
                # 0 / "none" = explicitly unbounded (exact recall)
                dedup_lsh_max_bucket=(
                    "unset" if "dedup_lsh_max_bucket" not in it
                    else None
                    if str(it["dedup_lsh_max_bucket"]).strip().lower()
                    in ("0", "none")
                    else int(it["dedup_lsh_max_bucket"])
                ),
                ann_ingest=_flag(it.get("ann_ingest", False)),
                ann_vec_column=it.get("ann_vec_column") or "embedding",
                ann_n_centroids=int(it.get("ann_n_centroids", 8)),
                ann_drift_floor=float(it.get("ann_drift_floor", 0.0)),
                ann_pq_n_sub=int(it.get("ann_pq_n_sub", 0)),
                ann_pq_n_codes=int(it.get("ann_pq_n_codes", 16)),
                quality_gate=_flag(it.get("quality_gate", False)),
                stats_group_columns=_split(it.get("stats_group_columns", "")),
                stats_value_column=it.get("stats_value_column") or None,
                stats_distinct_column=it.get("stats_distinct_column") or None,
                stats_quantile_column=it.get("stats_quantile_column") or None,
                stats_topk_column=it.get("stats_topk_column") or None,
                stats_sample_column=it.get("stats_sample_column") or None,
                stats_bloom_column=it.get("stats_bloom_column") or None,
                stats_current_state=_flag(it.get("stats_current_state", False)),
                bm25_ingest=_flag(it.get("bm25_ingest", False)),
                bm25_text_column=it.get("bm25_text_column") or "text",
                bm25_positions=_flag(it.get("bm25_positions", False)),
                extra={k: v for k, v in it.items() if k not in {
                    "db", "table", "primary_key", "target_table", "ignore_ddl",
                    "save_delete", "only_save_delete", "skip_delete",
                    "scd2_history", "zorder_columns",
                    "dedup_ingest", "dedup_text_column", "quality_gate",
                    "dedup_lsh_n", "dedup_lsh_num_hashes",
                    "dedup_lsh_band_size", "dedup_lsh_threshold",
                    "dedup_lsh_max_bucket",
                    "ann_ingest", "ann_vec_column", "ann_n_centroids",
                    "ann_pq_n_sub", "ann_pq_n_codes",
                    "ann_drift_floor",
                    "stats_group_columns", "stats_value_column",
                    "stats_distinct_column", "stats_quantile_column",
                    "stats_topk_column", "stats_sample_column",
                    "stats_bloom_column", "stats_current_state",
                    "bm25_ingest", "bm25_text_column", "bm25_positions",
                    "super_columns", "timestamp_columns", "date_columns"}},
            )
        )
    return rules


def load_properties(text: str) -> dict[str, str]:
    """Minimal .properties parser (reference loads via jproperties from S3,
    glue/cdc_redshift.py:42-49). Supports ``k = v`` lines, # comments, and
    trailing-backslash line continuations — the reference's shipped configs
    spread ``sync_table_list`` over dozens of continued lines
    (config/job-4x.properties:31+)."""
    out: dict[str, str] = {}
    logical: list[str] = []
    pending = ""
    for raw in text.splitlines():
        line = (pending + raw).strip() if pending else raw.strip()
        if not pending and (not line or line.startswith(("#", "!"))):
            continue
        if line.endswith("\\"):
            pending = line[:-1]
            continue
        pending = ""
        logical.append(line)
    if pending:
        logical.append(pending)
    for line in logical:
        if "=" in line:
            k, v = line.split("=", 1)
            out[k.strip()] = v.strip()
    return out
