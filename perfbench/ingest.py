"""Ingest workloads: a file-backed Debezium topic drained into a target store.

`ingest_cow` drains the two-table topic of `synth_debezium_topic` (orders
and customer) into a copy-on-write `ParquetTargetStore`; each batch merges
into a growing target and republishes it. `ingest_fanout30_mor` routes the
orders changelog disjointly over 30 tables (each key belongs to one table)
into a `MergeOnReadTargetStore`; each table gets few records per batch, so
per-rule overhead dominates and `merge_changes` is not called. After the
drain every table is read while its deltas are still unfolded, then folded.

A run sets up once: session start, warm-up and the topic files written.
Each round then starts from a fresh store and checkpoint: the closed-loop
drain (`run_file_stream`, availableNow, `maxFilesPerTrigger`), standing
reads, the fold (merge-on-read only), and the output checks, outside
every timed window.
"""

from __future__ import annotations

import concurrent.futures as cf
import os
import random
import shutil
import time
import zlib
from functools import reduce

from harness import JobCounter, cpu_seconds, dir_bytes, median, start_session, warm_up
from spans import maybe_span
from oracle import CUSTOMER_FINAL_SQL, ORDERS_FINAL_SQL, canon, digest, oracle_rows

N_FILES = 8
# four micro-batches per drain for the two-table topic; two for the
# 30-table fan-out, whose per-batch cost is mostly per-rule overhead
FILES_PER_TRIGGER = {"ingest_cow": 2, "ingest_fanout30_mor": 4}
FANOUT = 30
READ_TABLES = 5  # tables read per round (a seeded sample of the fan-out)
LOOKUPS = 6  # primary-key lookups per table read
FOLD_WORKERS = 8  # CdcBatchProcessor's default pool width
OFFSET_PHASES = ("latestOffset", "getBatch", "walCommit", "commitOffsets")


def _h(seed: int, *parts) -> int:
    return zlib.crc32(":".join(str(p) for p in (seed, *parts)).encode())


def _files_for_key(seed: int, table: str, key) -> tuple[int, int]:
    """(file of the insert, file of the key's later events). Later events
    never land in an earlier file, so every key's changelog reaches the
    processor in order while updates and deletes still cross batches."""
    h = _h(seed, table, key)
    first = h % N_FILES
    return first, first + (h // N_FILES) % (N_FILES - first)


class Workload:
    def __init__(self, name: str, seed: int, data_dir: str, work: str, tracer=None):
        self.name = name
        self.seed = seed
        self.data_dir = data_dir
        self.work = work
        self.tracer = tracer
        self.mor = name == "ingest_fanout30_mor"
        self.rng = random.Random(seed)
        self.expected: dict[str, list[dict]] = {}
        self.columns: dict[str, list[str]] = {}
        self._expected_from_oracle()

    # -- inputs -----------------------------------------------------------
    def _expected_from_oracle(self) -> None:
        from oracle import connect

        con = connect(self.data_dir)
        cols, orders = oracle_rows(con, ORDERS_FINAL_SQL)
        if self.mor:
            for i in range(FANOUT):
                self.expected[f"orders_p{i}"] = []
                self.columns[f"orders_p{i}"] = cols
            for r in orders:
                part = _h(self.seed, r["o_orderkey"]) % FANOUT
                self.expected[f"orders_p{part}"].append(r)
        else:
            self.expected["orders"] = orders
            self.columns["orders"] = cols
            ccols, cust = oracle_rows(con, CUSTOMER_FINAL_SQL)
            self.expected["customer"] = cust
            self.columns["customer"] = ccols
        con.close()

    def rules_and_schemas(self, spark):
        from kafka_cdc_redshift_spark.config import SyncRule
        from kafka_cdc_redshift_spark.sources import load_table

        orders = load_table(spark, self.data_dir, "orders").schema
        if self.mor:
            names = [f"orders_p{i}" for i in range(FANOUT)]
            rules = [SyncRule(db="salesdb", table=t, primary_key=("o_orderkey",))
                     for t in names]
            return rules, {t: orders for t in names}
        rules = [
            SyncRule(db="salesdb", table="orders", primary_key=("o_orderkey",)),
            SyncRule(db="salesdb", table="customer", primary_key=("c_custkey",)),
        ]
        customer = load_table(spark, self.data_dir, "customer").schema
        return rules, {"orders": orders, "customer": customer}

    def _topic(self, spark):
        from pyspark.sql import functions as F

        from kafka_cdc_redshift_spark.sources.envelopes import (
            ORDERS_COLS,
            synth_debezium_topic,
            synth_orders_changelog,
        )

        if not self.mor:
            return synth_debezium_topic(spark, self.data_dir)
        # the orders changelog, each key's events routed to one of FANOUT
        # tables chosen by the seed (Spark's crc32 equals zlib.crc32)
        cl = synth_orders_changelog(spark, self.data_dir)
        part = F.pmod(
            F.crc32(F.concat(F.lit(f"{self.seed}:"), F.col("o_orderkey").cast("string"))),
            F.lit(FANOUT),
        )
        row = F.struct(*[F.col(c) for c in ORDERS_COLS])
        return cl.select(
            F.to_json(F.struct(
                F.when(F.col("op") == "d", row).otherwise(F.lit(None)).alias("before"),
                F.when(F.col("op") != "d", row).otherwise(F.lit(None)).alias("after"),
                F.struct(
                    F.lit("salesdb").alias("db"),
                    F.concat(F.lit("orders_p"), part.cast("string")).alias("table"),
                    F.col("ts_ms").alias("ts_ms"),
                ).alias("source"),
                F.col("op"),
                F.col("ts_ms"),
            )).alias("value")
        )

    def write_topic(self, spark, topic_dir: str) -> dict:
        """Cut the topic into N_FILES files by key and write them with
        increasing modification times (the file source's batch order)."""
        from pyspark.sql import functions as F

        v = F.col("value")
        key = F.coalesce(
            F.get_json_object(v, "$.after.o_orderkey"),
            F.get_json_object(v, "$.before.o_orderkey"),
            F.get_json_object(v, "$.after.c_custkey"),
        )
        rows = self._topic(spark).select(
            v, F.get_json_object(v, "$.source.table").alias("t"), key.alias("k"),
            F.get_json_object(v, "$.op").alias("op"),
        ).collect()
        files: list[list[str]] = [[] for _ in range(N_FILES)]
        for r in rows:
            # fan-out tables share one key space: assign by key alone
            table = "orders" if self.mor else r["t"]
            first, later = _files_for_key(self.seed, table, r["k"])
            files[first if r["op"] in ("c", "r") else later].append(r["value"])
        os.makedirs(topic_dir)
        t0 = time.time() - N_FILES
        nbytes = 0
        for i, lines in enumerate(files):
            path = os.path.join(topic_dir, f"part-{i:03d}.json")
            data = ("\n".join(sorted(lines)) + "\n").encode()
            nbytes += len(data)
            with open(path, "wb") as f:
                f.write(data)
            os.utime(path, (t0 + i, t0 + i))
        return {"records": len(rows), "bytes": nbytes}

    # -- set-up -----------------------------------------------------------
    def warm_pipeline(self, spark, topic_dir: str) -> None:
        """Drain the topic's first two files, one per batch, into a throwaway
        store, so codegen for parse, dedup, merge and publish is warm before
        timing (the second batch merges into the first one's target)."""
        from kafka_cdc_redshift_spark.streaming import CdcBatchProcessor, run_file_stream

        wdir = os.path.join(self.work, "warm")
        os.makedirs(os.path.join(wdir, "topic"))
        for f in sorted(os.listdir(topic_dir))[:2]:
            shutil.copy2(os.path.join(topic_dir, f), os.path.join(wdir, "topic", f))
        rules, schemas = self.rules_and_schemas(spark)
        proc = CdcBatchProcessor(spark, rules, self._store(os.path.join(wdir, "store")),
                                 payload_schemas=schemas)
        run_file_stream(spark, os.path.join(wdir, "topic"), proc,
                        os.path.join(wdir, "ckpt"),
                        max_files_per_trigger=1).awaitTermination()
        shutil.rmtree(wdir, ignore_errors=True)

    def _store(self, root: str):
        from kafka_cdc_redshift_spark.streaming import (
            MergeOnReadTargetStore,
            ParquetTargetStore,
        )

        return (MergeOnReadTargetStore if self.mor else ParquetTargetStore)(root)

    # -- one round --------------------------------------------------------
    def round(self, spark, idx: int, rec: dict) -> None:
        """Drain, read, fold and check once; appends samples to `rec`."""
        from pyspark.sql import functions as F

        from kafka_cdc_redshift_spark.streaming import CdcBatchProcessor, run_file_stream

        rdir = os.path.join(self.work, f"round{idx}")
        store_root = os.path.join(rdir, "store")
        store = self._store(store_root)
        rules, schemas = self.rules_and_schemas(spark)
        proc = CdcBatchProcessor(spark, rules, store, payload_schemas=schemas)
        tr = self.tracer
        batch_spans: set[int] = set()
        if tr is not None:
            self._instrument(spark, proc, store, rec, batch_spans)

        c0 = cpu_seconds()
        t0 = time.perf_counter()
        q = run_file_stream(
            spark, rec["topic_dir"], proc, os.path.join(rdir, "ckpt"),
            max_files_per_trigger=FILES_PER_TRIGGER[self.name],
        )
        q.awaitTermination()
        drain = time.perf_counter() - t0
        rec["work_cpu_s"].append(cpu_seconds() - c0)
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        rec["work_s"].append(drain)
        rec["ingest_rps"].append(rec["records"] / drain)
        rec["attempted"] += len(progress)
        statuses = [s for b in proc.batch_statuses for s in b]
        rec["failed"] += sum(1 for s in statuses if s.status == "error")
        for p in progress:
            d = p["durationMs"]
            rec["batch_s"].append(d["triggerExecution"] / 1000)
            rec["offset_s"].append(sum(d.get(k, 0) for k in OFFSET_PHASES) / 1000)
            rec["add_batch_s"].append(d.get("addBatch", 0) / 1000)
        rec["written_bytes"].append(dir_bytes(store_root))
        tables = list(self.expected)
        if self.mor:
            rec["delta_count_max"].append(max(store.delta_count(t) for t in tables))
        rec["versions_max"].append(
            max(len(store.versions_on_disk(t)) for t in tables))

        # standing reads, before any fold: a count, then primary-key lookups
        read_tables = self.rng.sample(tables, min(READ_TABLES, len(tables)))
        for t in read_tables:
            pk = self.columns[t][0]
            with maybe_span(tr, "read", t):
                cs, ts = cpu_seconds(), time.perf_counter()
                df = store.read(spark, t)
                rec["store_read_s"].append(time.perf_counter() - ts)
                n = df.count()
                rec["read_s"].append(time.perf_counter() - ts)
                rec["read_cpu_s"].append(cpu_seconds() - cs)
            rec["attempted"] += 1
            rec["failed"] += n != len(self.expected[t])
            for want in self.rng.sample(self.expected[t], LOOKUPS):
                with maybe_span(tr, "read", t):
                    cs, ts = cpu_seconds(), time.perf_counter()
                    got = store.read(spark, t).filter(F.col(pk) == want[pk]).collect()
                    rec["read_s"].append(time.perf_counter() - ts)
                    rec["read_cpu_s"].append(cpu_seconds() - cs)
                rec["attempted"] += 1
                rec["failed"] += not (
                    len(got) == 1
                    and all(canon(got[0][c]) == canon(want[c]) for c in self.columns[t])
                )

        if self.mor:
            # concurrently across tables, as the processor's own maintenance
            # cycle folds them
            def fold(t):
                with maybe_span(tr, "fold", t):
                    store.fold_deltas(spark, t)

            ts = time.perf_counter()
            with cf.ThreadPoolExecutor(FOLD_WORKERS) as pool:
                list(pool.map(fold, tables))
            rec["fold_s"].append(time.perf_counter() - ts)
        rec["store_bytes"].append(dir_bytes(store_root))
        if tr is not None:
            for m in ("publish", "publish_delta", "prune_versions"):
                rec[f"store.{m}_s"].append(tr.total(f"store.{m}", batch_spans))
            rec["store.fold_deltas_s"].append(tr.total("store.fold_deltas"))

        # output checks: every final table equals its LWW oracle
        got_tables = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [store.read(spark, t).withColumn("__t", F.lit(t)) for t in tables],
        ).collect()
        by_table: dict[str, list] = {t: [] for t in tables}
        for r in got_tables:
            by_table[r["__t"]].append(r)
        for t in tables:
            rec["attempted"] += 1
            ok = digest(by_table[t], self.columns[t]) == digest(
                self.expected[t], self.columns[t])
            rec["failed"] += not ok
            if not ok:
                rec["errors"].append(f"round {idx}: table {t} differs from oracle")
        if tr is not None and idx == 0:
            self._replay(spark, rec)
        shutil.rmtree(rdir, ignore_errors=True)

    # -- tracing ----------------------------------------------------------
    def _instrument(self, spark, proc, store, rec: dict, batch_spans: set) -> None:
        """Spans around the processor's batches and the store's calls, plus
        per-batch job/stage/task counts."""
        tr = self.tracer
        counter = JobCounter(spark)
        inner = proc.process_batch

        def process_batch(batch_df, batch_id, **kw):
            counter.mark()
            with tr.span("batch", batch_id) as sid:
                batch_spans.add(sid)
                tr.ambient = sid
                try:
                    t0 = time.perf_counter()
                    out = inner(batch_df, batch_id, **kw)
                    rec["process_batch_s"].append(time.perf_counter() - t0)
                finally:
                    tr.ambient = None
            if out:
                rec["batch_counts"].append(counter.since())
            return out

        proc.process_batch = process_batch
        for m, key_arg in (("publish", 1), ("publish_delta", 1),
                           ("prune_versions", 0), ("read", 1), ("fold_deltas", 1)):
            if hasattr(store, m):
                tr.wrap_method(store, m, f"store.{m}", key_arg)

    def _replay(self, spark, rec: dict) -> None:
        """Self times of route/parse, LWW dedup and merge: each batch's files
        (the file source takes them oldest first) are replayed step by step
        with a `noop` sink after each step; a step's self time is its
        action's time minus the previous one's."""
        from kafka_cdc_redshift_spark.operators import lww_dedup, merge_changes
        from kafka_cdc_redshift_spark.operators.normalize import route_parse_debezium

        def timed(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        rules, schemas = self.rules_and_schemas(spark)
        if self.mor:
            # one table stands for the thirty: each runs the same steps on
            # its own slice of the batch
            rules = rules[:1]
        replay_dir = os.path.join(self.work, "replay")
        targets: dict[str, str | None] = {r.target_name: None for r in rules}
        parse_s = dedup_s = merge_s = 0.0
        rows_in = rows_out = 0
        paths = sorted(os.path.join(rec["topic_dir"], f)
                       for f in os.listdir(rec["topic_dir"]))
        k = FILES_PER_TRIGGER[self.name]
        for bi in range(len(paths) // k):
            files = paths[bi * k:(bi + 1) * k]
            raw = spark.read.schema("value string").text(files).cache()
            raw.count()
            for rule in rules:
                pk = list(rule.primary_key)
                parsed = route_parse_debezium(raw, rule.db, rule.table,
                                              schemas[rule.target_name])
                updates = lww_dedup(parsed, pk, ["ts_ms"])
                a = timed(parsed)
                b = timed(updates)
                parse_s += a
                dedup_s += b - a
                rows_in += parsed.count()
                rows_out += updates.count()
                if self.mor:
                    continue
                prev = targets[rule.target_name]
                if prev is None:
                    merged = updates.filter("op != 'd'").drop("op", "ts_ms")
                else:
                    merged = merge_changes(
                        spark.read.parquet(prev), updates, pk,
                        dedup_updates=False, broadcast_updates=True,
                    )
                    merge_s += timed(merged) - b
                out = os.path.join(replay_dir, rule.target_name, str(bi))
                merged.write.parquet(out)
                targets[rule.target_name] = out
            raw.unpersist()
        rec["replay"] = {
            "normalize.route_parse_s": parse_s,
            "normalize.rows_out": rows_in,
            "dedup.lww_s": dedup_s,
            "dedup.rows_out_per_in": rows_out / max(rows_in, 1),
            "merge.merge_changes_s": merge_s,
        }
        shutil.rmtree(replay_dir, ignore_errors=True)


def new_record(records: int, topic_dir: str, topic_bytes: int) -> dict:
    rec = {
        "records": records, "topic_dir": topic_dir, "topic_bytes": topic_bytes,
        "attempted": 0, "failed": 0, "errors": [],
        "work_s": [], "work_cpu_s": [], "ingest_rps": [], "batch_s": [],
        "offset_s": [], "add_batch_s": [], "read_s": [], "read_cpu_s": [],
        "store_read_s": [], "fold_s": [],
        "store_bytes": [], "written_bytes": [], "delta_count_max": [],
        "versions_max": [], "process_batch_s": [], "batch_counts": [],
    }
    for m in ("publish", "publish_delta", "prune_versions", "fold_deltas"):
        rec[f"store.{m}_s"] = []
    return rec


def run(name: str, seed: int, seconds: float, data_dir: str, work: str,
        tracer=None) -> dict:
    """Set up once, then drain the topic in as many rounds as fit in
    `seconds` of measuring (at least one)."""
    from harness import Clock

    wl = Workload(name, seed, data_dir, work, tracer)
    topic_dir = os.path.join(work, "topic")
    t0 = time.perf_counter()
    spark = start_session(work)
    t1 = time.perf_counter()
    warm_up(spark)
    t2 = time.perf_counter()
    info = wl.write_topic(spark, topic_dir)
    t3 = time.perf_counter()
    wl.warm_pipeline(spark, topic_dir)
    t4 = time.perf_counter()
    rec = new_record(info["records"], topic_dir, info["bytes"])
    rec.update(setup_cpu_s=[cpu_seconds(jit=True)], setup_s=[t4 - t0],
               session_start_s=[t1 - t0], topic_write_s=[t3 - t2])
    # only rounds that fit in `seconds`, so every run measures the same
    # number of rounds on a given host
    clock = Clock(seconds)
    idx, last = 0, 0.0
    while idx == 0 or clock.left() >= last:
        t = time.perf_counter()
        wl.round(spark, idx, rec)
        last = time.perf_counter() - t
        idx += 1
    spark.stop()
    rec["rounds"] = idx
    return rec


def summarize(rec: dict) -> tuple[dict, dict, dict]:
    """(end-to-end, extra end-to-end, per-layer) metric values of a run."""
    mb = 1024 * 1024
    e2e = {
        "setup_s": median(rec["setup_cpu_s"]),
        "work_cpu_s": median(rec["work_cpu_s"]),
        "read_cpu_s": median(rec["read_cpu_s"]),
        "store_mb": median(rec["store_bytes"]) / mb,
    }
    extra = {
        "setup_wall_s": median(rec["setup_s"]),
        "work_s": median(rec["work_s"]),
        "ingest_rps": median(rec["ingest_rps"]),
        "batch_s_p50": median(rec["batch_s"]),
        "read_s_p50": median(rec["read_s"]),
    }
    if rec["fold_s"]:
        extra["fold_s"] = median(rec["fold_s"])
    written = median(rec["written_bytes"])
    layer = {
        "session.start_s": median(rec["session_start_s"]),
        "sources.topic_write_s": median(rec["topic_write_s"]),
        "stream.offset_s": median(rec["offset_s"]),
        "stream.add_batch_s": median(rec["add_batch_s"]),
        "store.read_s": median(rec["store_read_s"]),
        "store.bytes_written_mb": written / mb,
        "store.write_amp": written / rec["topic_bytes"],
        "store.delta_count_max": max(rec["delta_count_max"], default=0),
        "store.versions_on_disk_max": max(rec["versions_max"], default=0),
    }
    if rec["process_batch_s"]:
        counts = rec["batch_counts"]
        layer.update({
            "job.process_batch_s": median(rec["process_batch_s"]),
            "job.jobs_per_batch": median(c["jobs"] for c in counts),
            "job.stages_per_batch": median(c["stages"] for c in counts),
            "job.tasks_per_batch": median(c["tasks"] for c in counts),
            "job.failed_tasks": sum(c["failed_tasks"] for c in counts),
        })
        for m in ("publish", "publish_delta", "prune_versions", "fold_deltas"):
            layer[f"store.{m}_s"] = median(rec[f"store.{m}_s"])
        layer.update(rec["replay"])
    return e2e, extra, layer
