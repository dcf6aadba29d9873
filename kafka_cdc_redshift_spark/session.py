"""SparkSession factory tuned for this engine.

Local test profile mirrors a multi-executor cluster via partitioning: AQE on
(runtime coalesce + skew-join splitting), UTC session timezone (CDC event
times are epoch-based), Arrow enabled for the pandas-UDF paths.

At 100 TB the same settings hold; only `shuffle.partitions` scales with the
cluster (rule of thumb: 2-3x total cores, AQE coalesces the excess).
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

#: the heap the engine was tuned with; hosts with less memory get less
_HEAP_CAP_MB = 20 * 1024
#: share of MemAvailable the pre-touched driver heap may commit
_HEAP_SHARE = 0.6


def session_sizing(
    env: Mapping[str, str], host_cpus: int, mem_available_kb: int | None,
) -> tuple[int, str]:
    """(task slots, driver heap) for a local session. `SPARK_GRAFT_CPUS`
    and `SPARK_GRAFT_DRIVER_MEM` in `env` win; otherwise the host decides:
    every CPU this process may run on, and a heap of min(20g, 60% of
    MemAvailable). The heap is pre-touched at JVM start, so a default
    larger than the free memory would stop the JVM from starting at all.
    `mem_available_kb=None` (no /proc/meminfo) keeps the 20g cap."""
    cpus = int(env.get("SPARK_GRAFT_CPUS") or host_cpus)
    mem = env.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        mb = _HEAP_CAP_MB
        if mem_available_kb is not None:
            mb = max(512, min(mb, int(mem_available_kb * _HEAP_SHARE) // 1024))
        mem = f"{mb // 1024}g" if mb % 1024 == 0 else f"{mb}m"
    return cpus, mem


def _mem_available_kb() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def host_sizing() -> tuple[int, str]:
    """`session_sizing` for this process's environment and host."""
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API outside Linux
        cpus = os.cpu_count() or 1
    return session_sizing(os.environ, cpus, _mem_available_kb())


def build_session(
    app_name: str = "kafka_cdc_redshift_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus, driver_mem = host_sizing()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    # Fixed, pre-touched heap. With a large -Xmx and a small initial heap,
    # G1 grows the committed heap in multi-GiB steps during allocation-heavy
    # (JSON parse) queries; 32 task threads then page-fault fresh kernel
    # pages concurrently, and the resulting kernel storm (observed: 90-98%
    # system CPU for 10-50 s, zero GC pauses over 205 ms) serializes the
    # whole JVM. That was BENCH_r01's "cdc_pipeline_dms 50 s" pathology —
    # deterministic bench ordering made the expansion always land on the
    # same query. -Xms == -Xmx + AlwaysPreTouch commits every heap page once
    # at startup (~1-2 s) and removes the stalls entirely (12/12 stable runs).
    # The heap is sized to fit the host (see session_sizing).
    jvm_opts = f"-Xms{driver_mem} -XX:+AlwaysPreTouch"
    if extra_conf and "spark.driver.extraJavaOptions" in extra_conf:
        extra_conf = dict(extra_conf)
        jvm_opts = f"{jvm_opts} {extra_conf.pop('spark.driver.extraJavaOptions')}"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-split sizing: Spark splits files at
        # min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism)).
        # The 4 MB openCost default floors small-table scans at ~3 tasks on
        # a 32-core host (a 10 MB compressed fact scanned by 3 tasks is 29
        # idle cores; measured q1 3.3 s -> 1.3 s with the floor lowered).
        # 256 KB still amortizes file-open overhead but lets the
        # totalBytes/parallelism term win, so SMALL inputs fan out to the
        # cluster while big data keeps full 128 MB splits — the term that
        # governs at 100 TB is maxPartitionBytes, which stays default.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        # events.parquet carries TIMESTAMP(NANOS); Spark reads it as long ns
        # (converted back to µs NTZ in sources.files.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
