"""Per-query counters of registered queries: one warm-up, then ``-n`` reps
of each query. Each rep runs under its own job group, read back with
perfbench's ``SparkCounters``; the group begins before the builder is
called, so jobs a builder runs count toward the query. A rep times the
build and the ``.count()`` action bench.py times, and counts the classes
Spark's codegen compiled meanwhile (``codegen_compiles``: Janino compiles,
cache hits excluded).

Prints one JSON line per (query, sf, mode): the medians over the reps of
``build_s``, ``wall_s``, ``codegen_compiles``, ``SparkCounters.end``'s
counters, the executed plan's ``exchanges`` and the output ``rows``; the
per-rep wall times and compile counts (a rep after the warm-up that still
compiles generates new code on every run); and ``stable``, whether jobs,
exchanges, shuffle records and rows were the same in every rep.

- Two ``--sf`` directories: the second one's lines add ``ratio``, each
  counter over its value on the first. A shuffle-record ratio far above the
  data's growth marks a super-linear operator, with no wall-clock noise.
- ``--conf k=v``: each rep runs mode A (the session's values), then mode B
  (the given SQL confs); the session's values are restored afterwards.
- ``--stages``: adds the last rep's stages, slowest first.

Usage: python tools/query_profile.py --sf DIR [--sf DIR] [-n REPS]
           [--conf K=V ...] [--stages] [query ...]
(no query names: every registered query, in registry order)
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_cassandra_spark.queries import QUERIES  # noqa: E402
from apache_cassandra_spark.session import get_spark  # noqa: E402
from perfbench.common import SparkCounters, plan_counts  # noqa: E402

#: counters that must not move between reps over the same data
DETERMINISTIC = ("jobs", "exchanges", "shuffle_records", "rows")


class Counters(SparkCounters):
    """perfbench's collector with job groups unique in the session: it
    finds a group's jobs by name, and its own names restart at 1 in every
    instance, so a second instance would count the first one's jobs."""

    def begin(self, desc: str) -> str:
        group = f"query_profile-{uuid.uuid4().hex}"
        self.sc.setJobGroup(group, desc)
        return group


def codegen_compiles(spark) -> int:
    """Janino compiles in this JVM so far: whole-stage and expression
    classes, not the ones Spark's codegen cache returned."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def run_once(spark, counters: SparkCounters, fn, sf_dir: str) -> tuple[dict, str]:
    """One rep of query builder ``fn``: its record and its job group."""
    spark.catalog.clearCache()  # per-query isolation, as in bench.py and the oracle gate
    compiles = codegen_compiles(spark)
    group = counters.begin("query_profile")
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    rows = df.count()
    t2 = time.perf_counter()
    rec = {"build_s": t1 - t0, "wall_s": t2 - t1, "codegen_compiles": codegen_compiles(spark) - compiles}
    rec.update(counters.end(group), exchanges=plan_counts(df)["exchanges"], rows=rows)
    return rec, group


def stage_rows(counters: SparkCounters, group: str) -> list[dict]:
    """The stages that ran in ``group``'s jobs, slowest first (a stage
    skipped because its shuffle output was reused ran no task)."""
    tracker, out = counters.sc.statusTracker(), []
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            s = counters.store.lastStageAttempt(sid)
            if s.numCompleteTasks() == 0:
                continue
            sub, done = s.submissionTime(), s.completionTime()
            wall = done.get().getTime() - sub.get().getTime() if sub.isDefined() and done.isDefined() else 0
            out.append(
                {
                    "stage": sid,
                    "wall_ms": wall,
                    "tasks": s.numCompleteTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ms": s.executorCpuTime() // 1_000_000,
                    "shuffle_read_records": s.shuffleReadRecords(),
                    "shuffle_write_records": s.shuffleWriteRecords(),
                    "input_bytes": s.inputBytes(),
                }
            )
    return sorted(out, key=lambda r: -r["wall_ms"])


def profile(spark, names, sf_dirs, reps: int = 3, confs: dict | None = None, stages: bool = False):
    """Yield one record per (query, sf, mode), as the module docstring
    describes. A query that raises yields a record with ``error`` instead."""
    counters = Counters(spark)
    saved = {k: spark.conf.get(k, None) for k in confs or {}}
    modes = {"A": saved, "B": confs} if confs else {"A": saved}

    def set_mode(values: dict) -> None:
        for k, v in values.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    try:
        for name in names:
            base: dict[str, dict] = {}
            for sf_dir in sf_dirs:
                runs: dict[str, list[dict]] = {m: [] for m in modes}
                groups: dict[str, str] = {}
                try:
                    for rep in range(reps + 1):  # rep 0 is the warm-up
                        for m, values in modes.items():
                            set_mode(values)
                            rec, groups[m] = run_once(spark, counters, QUERIES[name], sf_dir)
                            if rep:
                                runs[m].append(rec)
                except Exception as e:  # report it and go on to the next query
                    yield {"query": name, "sf": sf_dir, "error": f"{type(e).__name__}: {str(e)[:300]}"}
                    break
                for m, recs in runs.items():
                    out = {"query": name, "sf": sf_dir, "mode": m}
                    out.update({k: statistics.median(r[k] for r in recs) for k in recs[0]})
                    out["wall_s_reps"] = [round(r["wall_s"], 4) for r in recs]
                    out["codegen_compiles_reps"] = [r["codegen_compiles"] for r in recs]
                    out["stable"] = all(len({r[k] for r in recs}) == 1 for k in DETERMINISTIC)
                    if stages:
                        out["stages"] = stage_rows(counters, groups[m])
                    if m in base:
                        out["ratio"] = {k: round(out[k] / base[m][k], 3) if base[m][k] else None for k in recs[0]}
                    else:
                        base[m] = out
                    yield out
    finally:
        set_mode(saved)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", help="registry names (default: all)")
    ap.add_argument("--sf", action="append", required=True, help="data directory; give two for ratios")
    ap.add_argument("-n", type=int, default=3, help="timed reps after the warm-up")
    ap.add_argument("--conf", action="append", default=[], help="SQL conf k=v for mode B")
    ap.add_argument("--stages", action="store_true", help="add the last rep's stages")
    args = ap.parse_args()
    if len(args.sf) > 2:
        ap.error("at most two --sf directories")
    if args.n < 1:
        ap.error("-n must be at least 1")
    unknown = [q for q in args.queries if q not in QUERIES]
    if unknown:
        ap.error(f"not registered: {unknown}")
    if any("=" not in c for c in args.conf):
        ap.error("--conf takes k=v")

    spark = get_spark(app_name="query_profile")
    confs = dict(c.split("=", 1) for c in args.conf)
    for rec in profile(spark, args.queries or list(QUERIES), args.sf, args.n, confs, args.stages):
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
