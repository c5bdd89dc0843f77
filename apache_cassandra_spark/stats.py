"""Op-stat pipeline analog (fork §2.7 item 8).

The reference collects per-operation stats by AOP-intercepting the Thrift
client/server surface and batching rows into a SQL table
(``stat/create.sql:1-40``: Group0..Group5 dimensions + Calls /
DurationAvg / DurationMin / DurationMax / Failures / Timeouts;
``CustomTHsHaServer`` hooks the server side). The Spark-first analog
intercepts the ``Engine`` method surface the same way — a wrapper around
each public op — and aggregates in-process; ``to_df`` materializes the
stats as a DataFrame mirroring the ``CassandraClientOperation`` row shape,
ready to append to any warehouse table.

Durations are microseconds of the engine call itself: for writes,
compactions, key reads and range slices (which read and merge on the
driver) that is the full operation; for reads that return a *lazy*
DataFrame (probes, joins) it is the declaration cost only (execution
happens in Spark jobs whose metrics live in the Spark UI/event log — the
engine does not force materialization just to time it).
"""

from __future__ import annotations

import socket
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class _Agg:
    calls: int = 0
    failures: int = 0
    dur_sum_us: int = 0
    dur_min_us: int | None = None
    dur_max_us: int = 0

    def add(self, dur_us: int, failed: bool) -> None:
        self.calls += 1
        if failed:
            self.failures += 1
        self.dur_sum_us += dur_us
        self.dur_min_us = dur_us if self.dur_min_us is None else min(self.dur_min_us, dur_us)
        self.dur_max_us = max(self.dur_max_us, dur_us)


@dataclass
class OpStats:
    """Aggregated operation stats keyed by (group0, op, cluster, keyspace)."""

    cluster_name: str = "pyspark-widecolumn"
    _aggs: dict[tuple, _Agg] = field(default_factory=dict)

    def record(
        self,
        op: str,
        keyspace: str | None,
        dur_us: int,
        failed: bool = False,
        group0: str = "stats.cassandra.server",
    ) -> None:
        key = (group0, op, self.cluster_name, keyspace)
        self._aggs.setdefault(key, _Agg()).add(dur_us, failed)

    def reset(self) -> None:
        self._aggs.clear()

    def snapshot(self) -> list[tuple]:
        """Rows in the CassandraClientOperation shape
        (Registered, HostName, Group0..Group4, Calls, DurationAvg/Min/Max,
        Failures, Timeouts)."""
        now = int(time.time())
        host = socket.gethostname()[:32]
        return [
            (
                now,
                host,
                g0,
                op,
                cluster,
                "local",
                ks,
                a.calls,
                a.dur_sum_us // max(a.calls, 1),
                a.dur_min_us or 0,
                a.dur_max_us,
                a.failures,
                0,
            )
            for (g0, op, cluster, ks), a in sorted(self._aggs.items())
        ]

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            self.snapshot(),
            "registered bigint, host_name string, group0 string, group1 string, "
            "group2 string, group3 string, group4 string, calls int, "
            "duration_avg bigint, duration_min bigint, duration_max bigint, "
            "failures int, timeouts int",
        )


#: Engine methods intercepted — the Thrift op surface plus maintenance
INSTRUMENTED_OPS = (
    "get",
    "get_slice",
    "multiget",
    "multiget_slice",
    "get_count",
    "get_range_slices",
    "rows_may_exist",
    "columns_may_exist",
    "insert",
    "remove",
    "batch_mutate",
    "flush",
    "compact",
    "compact_minor_if_needed",
    "snapshot",
)


def instrument(engine, stats: OpStats) -> None:
    """AOP analog: wrap the engine's public op methods at instance level so
    every call lands in ``stats`` (duration µs + failure flag). The first
    positional arg of every instrumented op is the keyspace (or None)."""

    def wrap(name, fn):
        def timed_ok(*args, **kwargs):
            ks = args[0] if args and isinstance(args[0], str) else kwargs.get("ks")
            t0 = time.perf_counter_ns()
            try:
                out = fn(*args, **kwargs)
            except Exception:
                stats.record(name, ks, (time.perf_counter_ns() - t0) // 1000, failed=True)
                raise
            stats.record(name, ks, (time.perf_counter_ns() - t0) // 1000, failed=False)
            return out

        timed_ok.__name__ = name
        return timed_ok

    for name in INSTRUMENTED_OPS:
        fn = getattr(engine, name, None)
        if fn is not None:
            setattr(engine, name, wrap(name, fn))
