"""Shared pieces of the benchmark: statistics, the Spark session's life
cycle, memory readings and the per-op Spark counters read from the
driver's in-process AppStatusStore (the Spark UI is off)."""

from __future__ import annotations

import math
import os
import re
import statistics
import subprocess
import time

#: operation-graph clusters that mark a stage as running Python workers
_PY_NODE = re.compile(r"ArrowEvalPython|BatchEvalPython|InPandas|InArrow")
#: executed-plan node names counted per op
_EXCHANGE = re.compile(r"\bExchange\b")
#: the LWW reconcile aggregate: grouped by the cell coordinate
_RECONCILE_AGG = re.compile(r"\bSortAggregate\(key=\[key#\d+, sc#\d+, column#\d+\]")
_CACHE_SCAN = re.compile(r"\bInMemoryTableScan\b")


# -- statistics -------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has at least ten samples beyond
    it: ``(value, percentile, sample count)``. With ten samples or fewer
    no percentile qualifies and the maximum (p100) is reported."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(xs)
    if n <= 10:
        return s[-1], 100.0, n
    # nearest-rank percentile p leaves n - ceil(p * n) samples above it
    p = (n - 10) / n
    return s[math.ceil(p * n) - 1], round(100 * p, 2), n


def geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# -- session ------------------------------------------------------------------


def start_spark(workdir: str):
    """Start the engine's session with its scratch paths inside ``workdir``:
    shuffle files and the warehouse that compaction's ``saveAsTable``
    registers into."""
    from apache_cassandra_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_proc(spark) -> subprocess.Popen:
    return spark.sparkContext._gateway.proc


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    proc = jvm_proc(spark)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM plus the driver process's own peak RSS."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    return (hwm_kb(jvm_proc(spark).pid) + hwm_kb("self")) / 1024.0


def _proc_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:  # the process exited meanwhile
            pass
    return out


def cpu_seconds(spark) -> float:
    """CPU time used so far by this process, the Spark JVM and the JVM's
    descendants (the Python workers), reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = sum(os.times()[:4])
    for pid in _proc_tree(jvm_proc(spark).pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15]) / tick  # utime stime cutime cstime
    return total


# -- Spark counters -------------------------------------------------------------


def _seq(x) -> list:
    return [x.apply(i) for i in range(x.size())]


class SparkCounters:
    """Per-op job/stage counters: every op runs under its own job group;
    after the op, the group's jobs are read back from the status tracker
    and their stages from the AppStatusStore."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self._n = 0

    def begin(self, desc: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, desc)
        return group

    def end(self, group: str) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {
            "jobs": len(jobs),
            "executor_cpu_ms": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_records": 0,
            "input_records": 0,
            "python_stage_ms": 0,
        }
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            for s in info.stageIds if info is not None else []:
                try:
                    sd = self.store.lastStageAttempt(s)
                except Exception:  # py4j: stage pruned from the status store
                    continue
                if sd.numCompleteTasks() == 0:
                    continue  # skipped stage (shuffle reused)
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_records"] += sd.shuffleWriteRecords()
                out["input_records"] += sd.inputRecords()
                if self._is_python_stage(s):
                    out["python_stage_ms"] += sd.executorRunTime()
        return out

    def _is_python_stage(self, stage_id: int) -> bool:
        def walk(c) -> bool:
            if _PY_NODE.search(c.name()):
                return True
            return any(walk(cc) for cc in _seq(c.childClusters()))

        return walk(self.store.operationGraphForStage(stage_id).rootCluster())

    def empty_job_ms(self, n: int = 15) -> float:
        """Median wall time of a one-task no-op JVM job: the per-job
        constant."""
        one = self.sc._jvm.java.util.ArrayList()
        one.add(0)
        rdd = self.sc._jsc.parallelize(one, 1)
        rdd.count()
        times = []
        for _ in range(n):
            t = time.perf_counter()
            rdd.count()
            times.append((time.perf_counter() - t) * 1000)
        return median(times)


def plan_counts(df) -> dict:
    """Exchange, reconcile SortAggregate and cached-relation scan nodes in
    the executed (final adaptive) plan of a DataFrame that has already run."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the final plan only, not the initial one
    plan = plan.toString()
    return {
        "exchanges": len(_EXCHANGE.findall(plan)),
        "sort_aggregates": len(_RECONCILE_AGG.findall(plan)),
        "in_memory_scans": len(_CACHE_SCAN.findall(plan)),
    }


def parquet_bytes(root: str) -> tuple[int, int]:
    """(file count, total bytes) of the Parquet files under ``root``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size
