#!/usr/bin/env python3
"""CDC benchmark: one command for the three workloads.

    python3 perfbench/run.py --workload ingest_cow --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. Each run generates its input tables from
fixed contents, lets `--seed` choose the key→file and key→table
assignment and the catalog query order, measures for `--seconds`, checks
every output against a DuckDB oracle, and prints one JSON object as its
last line: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1` (spans go to `.bench_out/`). `--smoke` runs every
workload once at the smallest size, with the full `cdc_*` catalog, and
asserts the metric names and units of BENCHMARK.json and every output
check. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the package under test

import harness  # noqa: E402

WORKLOADS = ("ingest_cow", "ingest_fanout30_mor", "catalog_cdc")

# rows per table. SMOKE is the repository's sf0.001 shape; the catalog runs
# at it too, because its specs cost jobs, not rows, at these sizes.
SMOKE_SIZES = {"orders": 1500, "customers": 150, "documents": 100, "embeddings": 100}
INGEST_SIZES = {"orders": 10000, "customers": 1000, "documents": 100, "embeddings": 100}
SIZES = {"ingest_cow": INGEST_SIZES, "ingest_fanout30_mor": INGEST_SIZES,
         "catalog_cdc": SMOKE_SIZES}

E2E_UNITS = {"setup_s": "s", "work_cpu_s": "s", "read_cpu_s": "s", "store_mb": "MB"}
EXTRA_UNITS = {
    "setup_wall_s": "s", "work_s": "s", "ingest_rps": "records/s",
    "batch_s_p50": "s", "read_s_p50": "s", "fold_s": "s", "catalog_s": "s",
    "query_s_p50": "s", "failed_frac": "ratio",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.topic_write_s": "s",
    "sources.fixtures_s": "s",
    "stream.offset_s": "s",
    "stream.add_batch_s": "s",
    "job.process_batch_s": "s",
    "job.jobs_per_batch": "count",
    "job.stages_per_batch": "count",
    "job.tasks_per_batch": "count",
    "job.failed_tasks": "count",
    "normalize.route_parse_s": "s",
    "normalize.rows_out": "count",
    "dedup.lww_s": "s",
    "dedup.rows_out_per_in": "ratio",
    "merge.merge_changes_s": "s",
    "store.publish_s": "s",
    "store.publish_delta_s": "s",
    "store.prune_versions_s": "s",
    "store.read_s": "s",
    "store.fold_deltas_s": "s",
    "store.delta_count_max": "count",
    "store.versions_on_disk_max": "count",
    "store.bytes_written_mb": "MB",
    "store.write_amp": "ratio",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.planning_ms": "ms",
    "plans.jobs": "count",
    "plans.stages": "count",
    "derived.build_s": "s",
    "derived.jobs": "count",
    "trace.work_cpu_s": "s",
    "trace.work_s": "s",
}


def run_workload(name: str, seed: int, seconds: float, work: str, *,
                 trace: bool, sizes: dict, full_catalog: bool = False) -> dict:
    """One workload run; returns the contract's result object plus the
    extra metrics under "extra"."""
    import catalog_cdc
    import datagen
    import ingest
    from spans import Tracer

    data_dir = os.path.join(work, "data")
    datagen.write_tables(data_dir, **sizes)
    tracer = Tracer() if trace else None
    if name == "catalog_cdc":
        rec = catalog_cdc.run(seed, data_dir, work, tracer, full=full_catalog)
        e2e, extra, layer = catalog_cdc.summarize(rec)
    else:
        rec = ingest.run(name, seed, seconds, data_dir, work, tracer)
        e2e, extra, layer = ingest.summarize(rec)
    extra["failed_frac"] = rec["failed"] / rec["attempted"]
    for err in rec["errors"]:
        print(f"check failed: {err}", file=sys.stderr)
    if tracer is not None:
        out = os.path.join(ROOT, ".bench_out")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, f"spans-{name}-{seed}.json"))
        layer["trace.work_cpu_s"] = e2e["work_cpu_s"]
        layer["trace.work_s"] = extra["work_s"] if "work_s" in extra else extra["catalog_s"]
        # a layer the workload does not call from the benchmark reads 0
        values, units = {k: layer.get(k, 0) for k in LAYER_UNITS}, LAYER_UNITS
    else:
        values, units = e2e, E2E_UNITS
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
        "extra": {k: {"value": float(v), "unit": EXTRA_UNITS[k]} for k, v in extra.items()},
    }


def _print_summary(name: str, res: dict) -> None:
    for group in ("metrics", "extra"):
        for k, m in res[group].items():
            print(f"{name} {k} = {m['value']:.6g} {m['unit']}")


def smoke(work: str) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = []
    for name in WORKLOADS:
        for trace in (False, True):
            res = run_workload(name, 0, 0, os.path.join(work, f"{name}-{int(trace)}"),
                               trace=trace, sizes=SMOKE_SIZES, full_catalog=True)
            _print_summary(name, res)
            want = want_layer if trace else want_e2e
            got = {k: m["unit"] for k, m in res["metrics"].items()}
            if got != want:
                problems.append(f"{name} trace={int(trace)}: metrics {got} != {want}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{name} trace={int(trace)}: {res['failed']} checks failed")
            if not trace and any(m["value"] <= 0 for m in res["metrics"].values()):
                problems.append(f"{name}: an end-to-end metric is not positive")
    for p in problems:
        print(f"smoke: {p}", file=sys.stderr)
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")

    tag = "smoke" if args.smoke else f"{args.workload}-{args.seed}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    os.makedirs(work)
    harness.configure_env(work)
    try:
        import kafka_cdc_redshift_spark  # noqa: F401  (fail fast without the package)

        if args.smoke:
            return smoke(work)
        res = run_workload(args.workload, args.seed, args.seconds, work,
                           trace=bool(args.trace), sizes=SIZES[args.workload])
        _print_summary(args.workload, res)
        del res["extra"]
        print(json.dumps(res))
        return 0
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # unless another run still uses it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
