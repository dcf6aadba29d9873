#!/usr/bin/env python
"""Measure catalog queries: seconds, Catalyst planning and Spark job census.

Usage:
    SPARK_GRAFT_SF_DIR=<sf dir> python tools/measure.py [QUERY ...]
        [--plans DIR] [--replicate N] [--ab CHECKOUT]

For each query (every catalog spec when none is named) one untimed warm
build + count(), then 3 timed samples. Each sample records the DataFrame
build seconds (eager barriers such as fixture or checkpoint jobs land
here), the count() seconds, the Catalyst planning ms of the result's plan,
and the jobs, stages and tasks of the build and of the count, each scoped
by its own job group. One JSON line per query holds the samples and their
medians. The session warm-up repeats bench.py's, in the same order.

--plans DIR      also write each query's explain("formatted") to DIR/<q>.txt.
--replicate N    measure against an N-copy replica of the sf dir, generated
                 once under testdata_replica/ in this checkout (`replicate`).
--ab CHECKOUT    run 10 pairs, alternating which side goes first: this
                 checkout's package against CHECKOUT's, each side a fresh
                 process that imports its own package but measures with
                 this file. One JSON line per query gives each side's
                 quartiles of the per-run median wall seconds (build + count),
                 this checkout's wins, and "gain" only when it wins >= 9 of
                 10 pairs and the medians differ by more than the other
                 side's inter-quartile range. CHECKOUT may be any commit
                 whose package has SPECS, warm_fixtures and build_session.

The census and the replica live in this file, not in the package, so both
sides of an A/B measure with identical code.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# appended, not prepended: a PYTHONPATH checkout (the --ab sides) wins
sys.path.append(REPO)

SAMPLES = 3
PAIRS = 10
REPLICA_ROOT = os.path.join(REPO, "testdata_replica")


# -- replica -----------------------------------------------------------------

def _is_key(field) -> bool:
    return pa.types.is_integer(field.type) and field.name.endswith(
        ("key", "_id")
    )


def _signed(col, copy: int):
    """Flip each vector's dimensions by a per-(dimension, copy) sign: one
    sign vector per copy keeps every intra-copy dot product and norm exact
    while vectors of different copies decorrelate."""
    arr = col.combine_chunks()
    offsets = arr.offsets.to_numpy()
    dims = np.arange(len(arr.values)) - offsets[
        pc.list_parent_indices(arr).to_numpy()
    ]
    h = (dims * 1103515245 + copy * 12345 + 1013904223) & 0xFFFFFFFF
    signs = 1 - 2 * ((h >> 7) & 1)
    vals = arr.values.to_numpy(zero_copy_only=False) * signs
    return pa.ListArray.from_arrays(
        arr.offsets, pa.array(vals, arr.type.value_type), type=arr.type
    )


def _replica_copy(table, copy: int, shift: int):
    """Copy `copy` of one table. Every integer column named `*key` or `*_id`
    moves by copy * shift, so keys stay unique per table and a foreign key
    of copy i joins only its original's rows, inside copy i. Copy 0 is the
    original; copy i > 0 suffixes every token of `text` with `~i` (intra-copy
    shingles exact, cross-copy overlap zero; `n_chars` follows the text) and
    sign-flips every vector column."""
    cols = {}
    for field in table.schema:
        col = table[field.name]
        if _is_key(field):
            col = pc.add_checked(col, pa.scalar(copy * shift, field.type))
        elif copy and field.name == "text":
            col = pc.replace_substring_regex(col, r"(\S+)", rf"\1~{copy}")
        elif copy and pa.types.is_list(field.type):
            col = _signed(col, copy)
        cols[field.name] = col
    if copy and "n_chars" in cols:
        cols["n_chars"] = pc.utf8_length(cols["text"]).cast(
            table.schema.field("n_chars").type
        )
    return pa.table(cols, schema=table.schema)


def replicate(sf_dir: str, dst: str, copies: int) -> str:
    """Write an N-copy replica of every table in `sf_dir` to `dst` once (an
    existing `dst` is reused) and return `dst`. One key shift for every key
    column of every table keeps foreign keys consistent."""
    if os.path.isdir(dst):
        return dst
    names = sorted(n for n in os.listdir(sf_dir) if n.endswith(".parquet"))
    tables = {n: pq.read_table(os.path.join(sf_dir, n)) for n in names}
    shift = 1 + max(
        pc.max(t[f.name]).as_py() or 0
        for t in tables.values() for f in t.schema if _is_key(f)
    )
    tmp = f"{dst}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, table in tables.items():
        with pq.ParquetWriter(os.path.join(tmp, name), table.schema) as w:
            for copy in range(copies):
                w.write_table(_replica_copy(table, copy, shift))
    os.rename(tmp, dst)  # a crashed generation never passes for a replica
    return dst


# -- measurement -------------------------------------------------------------

def warm_up(spark, sf_dir: str) -> None:
    """bench.py's warm-up: codegen, Python worker pool, Arrow, fixtures."""
    from kafka_cdc_redshift_spark.plans.catalog import warm_fixtures

    spark.range(1000).selectExpr("sum(id)").collect()
    spark.createDataFrame([(1, "x")], ["a", "b"]).count()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.range(256).repartition(64).mapInPandas(
        lambda it: it, "id long"
    ).count()
    warm_fixtures(spark, sf_dir)


def census(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks the job group `group` has submitted."""
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    stages = [
        s for j in jobs if (info := tracker.getJobInfo(j)) is not None
        for s in info.stageIds
    ]
    tasks = sum(
        st.numTasks for s in stages
        if (st := tracker.getStageInfo(s)) is not None
    )
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def planning_ms(df) -> float:
    """Analysis + optimization + planning ms of the DataFrame's own plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0.0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total


def measure_query(spark, sf_dir: str, name: str, plans_dir: str | None = None):
    """One untimed warm build + count, then SAMPLES timed samples."""
    import kafka_cdc_redshift_spark
    from kafka_cdc_redshift_spark.plans import SPECS

    build = SPECS[name].spark
    sc = spark.sparkContext
    build(spark, sf_dir).count()
    run = time.monotonic_ns()  # job groups unique per call, not per name
    samples = []
    for k in range(SAMPLES):
        group = f"measure-{name}-{run}-{k}"
        sc.setJobGroup(f"{group}-build", name)
        t0 = time.perf_counter()
        df = build(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{group}-exec", name)
        df.count()
        t2 = time.perf_counter()
        sample = {"build_s": t1 - t0, "exec_s": t2 - t1,
                  "planning_ms": planning_ms(df)}
        for phase in ("build", "exec"):
            for key, n in census(sc, f"{group}-{phase}").items():
                sample[f"{phase}_{key}"] = n
        samples.append(sample)
    sc.setJobGroup("measure-idle", "idle")
    if plans_dir is not None:
        os.makedirs(plans_dir, exist_ok=True)
        with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
            f.write(sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
    return {
        "q": name,
        "pkg": os.path.dirname(kafka_cdc_redshift_spark.__file__),
        "samples": samples,
        "median": {k: statistics.median(s[k] for s in samples)
                   for k in samples[0]},
    }


# -- A/B ---------------------------------------------------------------------

def verdict(this: list[float], other: list[float]) -> dict:
    """Paired comparison of per-run seconds, pair k = (this[k], other[k]):
    "gain" needs >= 9/10 wins (ties count for neither) and a median gap
    larger than the other side's inter-quartile range."""
    wins = sum(a < b for a, b in zip(this, other))
    q_this = statistics.quantiles(this, n=4, method="inclusive")
    q_other = statistics.quantiles(other, n=4, method="inclusive")
    gain = (
        wins * 10 >= 9 * len(this)
        and q_other[1] - q_this[1] > q_other[2] - q_other[0]
    )
    return {
        "this_q1_med_q3": [round(x, 4) for x in q_this],
        "other_q1_med_q3": [round(x, 4) for x in q_other],
        "wins": f"{wins}/{len(this)}",
        "verdict": "gain" if gain else "no gain",
    }


def run_side(checkout: str, argv: list[str]) -> dict[str, float]:
    """One fresh process measuring `checkout`'s package with this file;
    returns query -> median wall seconds (build + count)."""
    env = {**os.environ, "PYTHONPATH": checkout}
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *argv],
        env=env, stdout=subprocess.PIPE, text=True, check=True,
    ).stdout
    pkg = os.path.join(checkout, "kafka_cdc_redshift_spark")
    walls = {}
    for line in out.splitlines():
        if not line.startswith("{"):
            continue
        rec = json.loads(line)
        if os.path.realpath(rec["pkg"]) != os.path.realpath(pkg):
            raise RuntimeError(f"measured {rec['pkg']}, expected {pkg}")
        walls[rec["q"]] = statistics.median(
            s["build_s"] + s["exec_s"] for s in rec["samples"]
        )
    return walls


def ab(checkout: str, argv: list[str]) -> None:
    sides = {"this": REPO, "other": os.path.abspath(checkout)}
    runs: dict[str, list[dict[str, float]]] = {"this": [], "other": []}
    for k in range(PAIRS):
        for side in ("this", "other") if k % 2 == 0 else ("other", "this"):
            runs[side].append(run_side(sides[side], argv))
    names = set.intersection(*(set(r) for rs in runs.values() for r in rs))
    for name in sorted(names):
        rec = verdict(*([r[name] for r in runs[side]] for side in sides))
        print(json.dumps({"q": name, **rec}), flush=True)


# -- entry point -------------------------------------------------------------

def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("queries", nargs="*", metavar="QUERY")
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("--replicate", type=int, metavar="N")
    ap.add_argument("--ab", metavar="CHECKOUT")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to the sf dir to measure")
    if args.replicate is not None and args.replicate < 1:
        ap.error("--replicate needs N >= 1")
    if args.ab and args.plans:
        ap.error("--plans does not combine with --ab")
    if args.replicate:
        base = os.path.basename(os.path.normpath(sf_dir))
        sf_dir = replicate(
            sf_dir, os.path.join(REPLICA_ROOT, f"{base}_x{args.replicate}"),
            args.replicate,
        )
    if args.ab:
        argv = list(args.queries)
        if args.replicate:
            argv += ["--replicate", str(args.replicate)]
        ab(args.ab, argv)
        return

    from kafka_cdc_redshift_spark.plans import SPECS
    from kafka_cdc_redshift_spark.session import build_session

    spark = build_session("measure")
    warm_up(spark, sf_dir)
    for name in args.queries or sorted(SPECS):
        rec = measure_query(spark, sf_dir, name, args.plans)
        print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
