"""Catalog workload: the `cdc_*` catalog specs, one pass in a fresh session.

Each spec is called (its build: plan construction plus any build-time jobs,
which for the `*_tombstones` specs is the derived-state ingest) and its
result is collected. The collected rows are checked against the spec's
DuckDB oracle outside the timed window, so no query runs twice. The pass
starts from empty derived-state directories, so every state build is paid
inside the timed pass. After the pass each derived-state spec is called
again: the standing state is read and the replayed batches are no-ops.
"""

from __future__ import annotations

import os
import random
import tempfile
import time

from harness import JobCounter, cpu_seconds, dir_bytes, median, start_session, warm_up
from oracle import connect, rows_match
from spans import maybe_span

# Derived-state builds too slow to repeat in every timed pass within the
# benchmark's time budget on a 4-core host: 6-14 s each, cold, against
# 19 s for the other eighteen specs together. The smoke run still runs and
# checks them.
HEAVY = ("cdc_bm25_tombstones", "cdc_containment_tombstones",
         "cdc_dedup_tombstones", "cdc_phrase_tombstones")


def spec_names(full: bool) -> list[str]:
    from kafka_cdc_redshift_spark.plans import SPECS

    names = sorted(n for n in SPECS if n.startswith("cdc_"))
    return names if full else [n for n in names if n not in HEAVY]


def run(seed: int, data_dir: str, work: str, tracer=None, full: bool = False) -> dict:
    from kafka_cdc_redshift_spark.plans import SPECS
    from kafka_cdc_redshift_spark.plans.catalog import warm_fixtures

    names = spec_names(full)
    random.Random(seed).shuffle(names)
    derived = [n for n in names if n.endswith("_tombstones")]
    rec = {"attempted": 0, "failed": 0, "errors": [], "query_s": {},
           "query_cpu_s": {}, "build_s": {}, "exec_s": {}, "read_s": [],
           "read_cpu_s": [], "counts": {}, "planning_ms": {}}

    t0 = time.perf_counter()
    spark = start_session(work)
    t1 = time.perf_counter()
    warm_up(spark)
    t2 = time.perf_counter()
    warm_fixtures(spark, data_dir)
    t3 = time.perf_counter()
    rec.update(setup_cpu_s=[cpu_seconds(jit=True)], setup_s=[t3 - t0],
               session_start_s=[t1 - t0], fixtures_s=[t3 - t2])

    # derived-state directories are Python temp dirs: give the pass its own
    tempfile.tempdir = state_dir = os.path.join(work, "derived")
    os.makedirs(state_dir)
    counter = JobCounter(spark) if tracer is not None else None
    con = connect(data_dir)
    for name in names:
        spec = SPECS[name]
        if counter is not None:
            counter.mark()
        with maybe_span(tracer, "query", name) as qid:
            cs, ts = cpu_seconds(), time.perf_counter()
            with maybe_span(tracer, "build", name, qid):
                df = spec.spark(spark, data_dir)
            tb = time.perf_counter()
            with maybe_span(tracer, "exec", name, qid):
                rows = df.collect()
            te = time.perf_counter()
            rec["query_cpu_s"][name] = cpu_seconds() - cs
        rec["attempted"] += 1
        rec["query_s"][name] = te - ts
        rec["build_s"][name] = tb - ts
        rec["exec_s"][name] = te - tb
        if counter is not None:
            rec["counts"][name] = counter.since()
            rec["planning_ms"][name] = _planning_ms(df)
        _check(rec, name, rows, df.columns, con, spec.oracle)
    rec["state_bytes"] = dir_bytes(state_dir)

    # standing-state reads: the derived specs again, over their built state
    for name in derived:
        with maybe_span(tracer, "read", name):
            cs, ts = cpu_seconds(), time.perf_counter()
            df = SPECS[name].spark(spark, data_dir)
            rows = df.collect()
        rec["read_s"].append(time.perf_counter() - ts)
        rec["read_cpu_s"].append(cpu_seconds() - cs)
        rec["attempted"] += 1
        _check(rec, name, rows, df.columns, con, SPECS[name].oracle)
    con.close()
    spark.stop()
    tempfile.tempdir = None
    return rec


def _check(rec: dict, name: str, rows, columns, con, oracle: str | None) -> None:
    rec["attempted"] += 1
    if oracle is None:
        return
    ok, detail = rows_match(rows, columns, con, oracle)
    if not ok:
        rec["failed"] += 1
        rec["errors"].append(f"{name}: {detail}")


def _planning_ms(df) -> float:
    """Analysis + optimization + planning time of the result's own plan,
    from Spark's query-execution phase tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def summarize(rec: dict) -> tuple[dict, dict, dict]:
    q = list(rec["query_s"].values())
    e2e = {
        "setup_s": median(rec["setup_cpu_s"]),
        "work_cpu_s": sum(rec["query_cpu_s"].values()),
        "read_cpu_s": median(rec["read_cpu_s"]),
        "store_mb": rec["state_bytes"] / (1024 * 1024),
    }
    extra = {
        "setup_wall_s": median(rec["setup_s"]),
        "catalog_s": sum(q),
        "query_s_p50": median(q),
        "read_s_p50": median(rec["read_s"]),
    }
    derived = [n for n in rec["query_s"] if n.endswith("_tombstones")]
    layer = {
        "session.start_s": median(rec["session_start_s"]),
        "sources.fixtures_s": median(rec["fixtures_s"]),
        "plans.build_s": sum(rec["build_s"].values()),
        "plans.exec_s": sum(rec["exec_s"].values()),
        "derived.build_s": sum(rec["build_s"][n] for n in derived),
    }
    if rec["counts"]:
        layer.update({
            "plans.planning_ms": sum(rec["planning_ms"].values()),
            "plans.jobs": sum(c["jobs"] for c in rec["counts"].values()),
            "plans.stages": sum(c["stages"] for c in rec["counts"].values()),
            "derived.jobs": sum(rec["counts"][n]["jobs"] for n in derived),
        })
    return e2e, extra, layer
