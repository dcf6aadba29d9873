"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship query (full Debezium CDC pipeline) at sf0.001
queries()      -> name -> (spark, sf_dir) -> DataFrame, per SURVEY.md §2
oracle_sql()   -> name -> equivalent DuckDB SQL over the same parquet views

Implementation lives in kafka_cdc_redshift_spark/plans/catalog.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_cdc_redshift_spark.plans import SPECS  # noqa: E402


def _conf(spark: SparkSession) -> None:
    # the driver may pass a session without our conf; epoch<->timestamp
    # conversions (and hence oracle parity) assume a UTC session TZ, and
    # events.parquet carries TIMESTAMP(NANOS)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: multiplexed Debezium JSON topic -> route -> parse -> LWW
    dedup -> merge into the keyed target (SURVEY §2 minimum slice)."""
    _conf(spark)
    return SPECS["cdc_pipeline_debezium"].spark(spark, "/root/testdata/sf0.001")


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _conf(spark)
        return fn(spark, sf_dir)

    return run


# The CURRENT build round. Single explicit source of truth for artifact
# labeling (bench.py's BENCH_DETAIL_r{N}.json) — bumped by hand at each
# round open. Every inference scheme tried so far desynced once: BENCH_r*
# appears mid-round (r10 ADVICE), and CORRECTNESS_r{N} lands BEFORE the
# driver's close bench (r11 verdict: the official r11 detail self-labeled
# r12). A constant cannot desync.
ROUND = 13

# The driver's correctness check records at most ~50 queries per round, in
# registration order. This list pins the queries that MUST be checked this
# round (new, or changed signal/plan); the rest register stalest-driver-
# row-first (_stale_first) so rows refresh across the catalog over rounds.
_DRIVER_CHECK_FIRST = [
    # round 13 priority (2nd OPTIMIZATION round): the queries whose
    # physical plans or build-time lineage changed this round lead the
    # list — the BM25 de-skew (checkpointed pruned postings + partial-agg
    # df broadcast, replacing the r12 per-term window), the shared
    # shingle relation in dedup_minhash_eval, and the PQ-codebook
    # materialization (see OPTIMIZATION_r13.md). "New or changed plan"
    # outranks staleness: an unverified plan change is a regression risk,
    # a stale green row is only bookkeeping. cdc_bm25_tombstones rides
    # along because it shares retrieval.py lineage even though its own
    # plan is byte-identical.
    # -- lineage changed by the one near-dup spelling (every MinHash,
    # Jaccard and containment operator reads built shingle sets; the
    # contamination score reads built hash relations; the streamed dedup
    # ingest shingles and signs each batch once) --
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_minhash_lsh",
    "dedup_lsh_incremental",
    "dedup_keep_one",
    "dedup_keep_best",
    "dedup_containment",
    "doc_contamination",
    "curation_pipeline_v2",
    "cdc_dedup_tombstones",
    "cdc_containment_tombstones",
    # -- the plan/lineage-changed queries of the r13 optimization round --
    "text_bm25_topk",
    "sim_hybrid_rrf",
    "sim_hybrid_rrf_ann",
    "sim_eval_metrics",
    "text_rrf_three_way",
    "sim_hybrid_served",
    "sim_rrf_three_way_served",
    "cdc_bm25_tombstones",
    "dedup_minhash_eval",
    "sim_pq_rerank",
    "doc_contamination_bloom",
    # -- the last 5 r9-era rows (oldest in the freshness histogram;
    # everything else is r10+ and _stale_first fills the remaining ~35
    # slots oldest-first, so the r10 cohort refreshes right behind) --
    "text_ngram_counts",
    "text_phrase_match",
    "text_pii_redact",
    "text_repetition",
    "text_vocab_growth",
]


def _stale_first() -> list[str]:
    """Order the non-priority tail by driver-row staleness: queries whose
    most recent CORRECTNESS row is oldest come first, so the driver's
    ~50-row cap rotates fresh rows across the whole catalog over rounds
    instead of re-checking the same prefix. Reads the CORRECTNESS_r*.json
    records committed in the repo root; falls back to catalog order."""
    import glob
    import json

    here = os.path.dirname(os.path.abspath(__file__))
    last_round: dict[str, int] = {}
    try:
        for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
            rnd = int(path.rsplit("CORRECTNESS_r", 1)[1].split(".")[0])
            for name in json.load(open(path)):
                last_round[name] = max(last_round.get(name, 0), rnd)
    except Exception:  # noqa: BLE001 - ordering is an optimization only
        return list(SPECS)
    return sorted(SPECS, key=lambda n: (last_round.get(n, 0), n))


def _ordered_specs():
    first = [n for n in dict.fromkeys(_DRIVER_CHECK_FIRST) if n in SPECS]
    seen = set(first)
    rest = [n for n in _stale_first() if n not in seen]
    for n in first + rest:
        yield n, SPECS[n]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(spec.spark) for name, spec in _ordered_specs()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _ordered_specs()
        if spec.oracle is not None
    }
