#!/usr/bin/env python
"""Benchmark harness: run the catalog's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is total wall-clock seconds over all queries (excluding Spark session
startup). Each query is forced with a count() over its result (no driver-side
collect of payloads).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_cdc_redshift_spark.plans import SPECS  # noqa: E402
from kafka_cdc_redshift_spark.plans.catalog import warm_fixtures  # noqa: E402
from kafka_cdc_redshift_spark.session import build_session, host_sizing  # noqa: E402


def default_detail_path() -> str:
    """Filename (no directory) of the round's official bench detail
    artifact, labeled from the explicit `__spark_entry__.ROUND` marker —
    the single source of truth for the build round (unit-pinned) — AND
    the core count: the driver benches the same round at two core counts
    (32 and a low-core scaling run), and an unqualified name made the
    second run overwrite the first (r12 verdict: the 8-core detail
    clobbered the 32-core detail, so PERF_r12 had no per-query table)."""
    from __spark_entry__ import ROUND

    cpus = host_sizing()[0]
    return f"BENCH_DETAIL_r{ROUND:02d}_c{cpus}.json"


def round_detail_path() -> str | None:
    """Filename of the unqualified `BENCH_DETAIL_r{ROUND}.json`, which the
    per-query PERF table is read from, or None: only a 32-core run (or one
    that leaves SPARK_GRAFT_CPUS unset) writes it, so a low-core scaling
    run of the same round cannot overwrite it."""
    from __spark_entry__ import ROUND

    if os.environ.get("SPARK_GRAFT_CPUS") not in (None, "32"):
        return None
    return f"BENCH_DETAIL_r{ROUND:02d}.json"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = build_session("bench")

    # warmup: JVM codegen, Python worker pool, Arrow init — so one-time
    # startup cost isn't attributed to whichever query runs first
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.createDataFrame([(1, "x")], ["a", "b"]).count()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # fork the full Python/Arrow worker pool once (pandas import per worker)
    spark.range(256).repartition(64).mapInPandas(lambda it: it, "id long").count()
    # materialize the synthetic CDC topics (stand-in for a Kafka broker —
    # synthesis isn't engine work, so it doesn't belong in query timings)
    warm_fixtures(spark, sf_dir)

    # best-of-N per query: this host's CPU availability swings 2-5x between
    # identical runs (NOTES.md) — the minimum is the steady-state engine
    # time, which is what the baseline envelope describes. N controlled by
    # SPARK_GRAFT_BENCH_RUNS (default 2).
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    # localCheckpoint-barrier queries materialize intermediate state; their
    # FIRST run folds one-time materialization + allocator growth into the
    # measurement and best-of-2 can still report that outlier when the host
    # is noisy. Give them one untimed warm run so every timed run measures
    # the steady-state plan.
    barrier = {"dedup_minhash_lsh", "dedup_clusters", "dedup_keep_one",
               "dedup_keep_best",  # r5: same clusters lineage as keep_one
               "dedup_ngram_jaccard", "text_winnow_pairs", "emb_kmeans",
               # r3: localCheckpoint-materialized relations
               "dedup_semantic", "dedup_minhash_eval",
               # r4: localCheckpoint'd relations (q11's agg; the
               # incremental-LSH candidate set)
               "q11_important_parts", "dedup_lsh_incremental",
               "text_tfidf_topk"}
    timings: dict[str, float] = {}
    noise: dict[str, float] = {}
    for name in sorted(SPECS):
        spec = SPECS[name]
        # guide §1.5: every job this query submits shows up attributable
        # in logs/UI; driver-side string set, zero timing effect
        spark.sparkContext.setJobDescription(f"bench:{name}")
        if name in barrier and runs > 1:
            spec.spark(spark, sf_dir).count()  # warm, untimed
        samples: list[float] = []
        for _ in range(runs):
            t0 = time.perf_counter()
            spec.spark(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        # host-noise escalation: when the first runs disagree by >2x the
        # host was busy during one of them — take one extra sample so a
        # phantom regression needs THREE bad draws, not one
        if runs > 1 and max(samples) / max(min(samples), 1e-9) > 2.0:
            t0 = time.perf_counter()
            spec.spark(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 3)
        # per-query noise evidence (max/min over its samples) so a reader
        # can separate plan regressions from host noise without re-running;
        # only noisy queries are recorded to keep the detail line small
        ratio = max(samples) / max(min(samples), 1e-9)
        if len(samples) > 1 and ratio > 1.5:
            noise[name] = round(ratio, 2)

    total = round(sum(timings.values()), 3)
    # Full per-query record as a committed artifact (r9 verdict: the
    # driver's 2000-byte tail capture truncates the stdout detail line
    # mid-dict, and noise RATIOS sitting next to runtimes get misread as
    # seconds). Round number = __spark_entry__.ROUND, the ONE explicit
    # marker bumped at each round open — every inference scheme desynced
    # once (BENCH_r* appears mid-round, r10 ADVICE; CORRECTNESS_r{N}
    # lands BEFORE the driver's close bench, r11 verdict). Override with
    # SPARK_GRAFT_BENCH_DETAIL_PATH for ad-hoc samples that must not
    # overwrite the round's official detail artifact.
    here = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL_PATH")
    also = []
    if detail_path is None:
        detail_path = os.path.join(here, default_detail_path())
        if (round_path := round_detail_path()) is not None:
            also.append(os.path.join(here, round_path))
    detail = json.dumps(
        {
            "metric": "catalog_queries_total_wall",
            "value": total,
            "unit": "sec",
            "n_queries": len(timings),
            "sf": float(sf),
            "runs_per_query": runs,
            "queries_sec_min": timings,
            "noise_max_over_min_ratio": noise,
        },
        indent=1,
        sort_keys=True,
    )
    for path in (detail_path, *also):
        with open(path, "w") as f:
            f.write(detail + "\n")
    # stdout carries ONLY the tiny summary line (the driver contract —
    # and the r9 verdict's artifact item: the driver's 2000-byte tail
    # capture used to truncate a stdout detail line mid-dict, leaving
    # noise RATIOS readable as seconds; the full per-query record now
    # lives in the committed BENCH_DETAIL artifact above instead)
    print(
        json.dumps(
            {
                "metric": "catalog_queries_total_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "sf": float(sf),
                "detail_file": os.path.basename(detail_path),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
