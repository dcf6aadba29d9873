"""Session launch and shutdown, warm-up, CPU and Spark job counters.

Everything the benchmark writes stays under one work directory inside the
checkout: store roots, checkpoints, Spark scratch (`SPARK_LOCAL_DIRS`),
the JVM's and Python's temp dirs and the Spark warehouse.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import tempfile
import time

# The package's default heap (-Xms20g, pre-touched) does not fit a 15 GB
# host; the benchmark inputs are small, so a modest fixed heap is plenty.
DRIVER_MEM = "2g"


def configure_env(work: str) -> None:
    """Point every process the run starts at `work` and size the session to
    the host. Must run before the first Spark session starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR on next use


def start_session(work: str):
    """The package's own session, with the benchmark's launch settings."""
    from kafka_cdc_redshift_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    return build_session(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


_TICK = os.sysconf("SC_CLK_TCK")
# JIT compiler threads (thread names as /proc shows them)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str) -> int:
    """utime + stime of a process or thread, in clock ticks."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


class CpuClock:
    """CPU seconds used by this process and the Spark JVM, by default all
    threads but the JVM's JIT compiler threads. Time the hypervisor takes away (steal)
    and time spent waiting for a CPU are not counted, so the reading does
    not depend on how busy the host is. JIT compilation is left out
    because its timing varies from run to run while the work it serves
    does not; the JVM is started with a fixed set of compiler threads
    (`-XX:-UseDynamicNumberOfCompilerThreads`), so none exits and takes
    its time out of the subtraction."""

    def __init__(self):
        self._pid = None
        self._jit: list[str] = []

    def __call__(self, jit: bool = False) -> float:
        """CPU seconds so far; `jit=True` counts the compiler threads too."""
        from pyspark import SparkContext

        t = os.times()
        total = t.user + t.system
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return total
        if proc.pid != self._pid:
            self._pid = proc.pid
            tasks = f"/proc/{proc.pid}/task"
            self._jit = []
            for tid in os.listdir(tasks):
                with open(f"{tasks}/{tid}/comm") as f:
                    if f.read().strip() in _JIT_THREADS:
                        self._jit.append(f"{tasks}/{tid}/stat")
        ticks = _ticks(f"/proc/{proc.pid}/stat")
        if not jit:
            ticks -= sum(_ticks(p) for p in self._jit)
        return total + ticks / _TICK


cpu_seconds = CpuClock()


def stop_jvm() -> None:
    """Stop the active session and the JVM behind it, and wait for the JVM
    to exit (it exits when its stdin closes; its Python workers follow)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def warm_up(spark) -> None:
    """Warm JVM codegen and fork the Python worker pool before timing."""
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.createDataFrame([(1, "x")], ["a", "b"]).count()
    n = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(n), n).map(lambda x: x).count()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


class JobCounter:
    """Counts the Spark jobs, stages and tasks started between `mark()` and
    `since()`. Job ids are sequential per SparkContext, so the jobs of a
    window are exactly the ids handed out inside it."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()
        self._tracker = self._sc.statusTracker()
        self._start = 0

    def _next_id(self) -> int:
        return int(self._dag.numTotalJobs())

    def mark(self) -> None:
        self._start = self._next_id()

    def since(self) -> dict[str, int]:
        end = self._next_id()
        stages = tasks = failed = 0
        for job_id in range(self._start, end):
            info = self._tracker.getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in list(info.stageIds):
                stages += 1
                st = self._tracker.getStageInfo(stage_id)
                if st is not None:
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        return {"jobs": end - self._start, "stages": stages,
                "tasks": tasks, "failed_tasks": failed}


class Clock:
    """`left()` is what remains of a budget of `seconds` from construction."""

    def __init__(self, seconds: float):
        self.deadline = time.perf_counter() + seconds

    def left(self) -> float:
        return self.deadline - time.perf_counter()


def median(xs) -> float:
    return float(statistics.median(xs))
