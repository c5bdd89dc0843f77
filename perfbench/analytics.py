"""The ``analytics_mix`` workload: declared queries from the package's
registry, one per family, run by one client in a closed loop over tables
generated from the seed. Each op is the builder call plus full
materialization of its result; every result is compared with the
query's DuckDB oracle by an order-insensitive row digest."""

from __future__ import annotations

import hashlib
import json
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import median

#: family -> query; the family metric is the median of the query's runs
FAMILIES = {
    "lww_scan_s": "cass_lww_row_tombstones",
    "fixpoint_s": "events_communities",
    "python_udf_s": "media_audio_features",
}
N_EVENTS = 10_000
N_DOCS = 1_000
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table the value vector window"
).split()
#: 2024-01-01T00:00Z in epoch microseconds; events span 30 days from it
T0_US = 1_704_067_200_000_000


def write_tables(data_dir: str, seed: int) -> None:
    """``events`` and ``documents`` with the schemas of the package's
    fixture tables, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    os.makedirs(data_dir, exist_ok=True)
    n_users = N_EVENTS // 66
    ts = T0_US + np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, N_EVENTS), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS)),
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )
    pq.write_table(events, os.path.join(data_dir, "events.parquet"))
    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.02:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, N_DOCS)),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, N_DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(data_dir, "documents.parquet"))


# -- the oracle digest (tools/check_oracle.py's normalisation) ---------------


def norm_cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def digest(cols: list[str], rows) -> str:
    """Order-insensitive digest: columns sorted by name, each cell
    normalised to text, rows sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)
    body = json.dumps([sorted(cols), norm])
    return hashlib.sha256(body.encode()).hexdigest()


def oracle_digest(data_dir: str, sql: str) -> str:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        tbl = con.execute(sql).arrow()
    finally:
        con.close()
    cols = list(tbl.column_names)
    rows = list(zip(*(tbl.column(i).to_pylist() for i in range(tbl.num_columns))))
    return digest(cols, rows)


class AnalyticsMix:
    name = "analytics_mix"
    #: ops per pass: the loop always finishes a pass it started
    PASS = len(FAMILIES)
    #: (phase, share of ``--seconds``, kinds of its untimed warm-up ops,
    #: nominal seconds per pass on a 4-core x86 VM). Query times keep
    #: falling for about three passes after the JVM starts (JIT), so the
    #: warm-up is three passes.
    PHASES = (("queries", 1.0, tuple(FAMILIES.values()) * 3, 5.0),)

    def __init__(self, spark, workdir: str, seed: int):
        from apache_cassandra_spark.queries import ORACLES, QUERIES

        self.spark = spark
        self.seed = seed
        self.queries = QUERIES
        self.oracles = ORACLES
        self.rng = random.Random(seed)
        self.data_dir = os.path.join(workdir, "data")
        self.expected: dict[str, str] = {}
        self.tracer = None
        self.order: list[str] = []
        self.empty_job_ms = 0.0

    def setup(self) -> None:
        write_tables(self.data_dir, self.seed)

    def drop_store(self) -> None:
        for t in ("events", "documents"):
            os.remove(os.path.join(self.data_dir, f"{t}.parquet"))

    def install_trace(self, tracer) -> None:
        self.tracer = tracer

    def start_measure(self) -> None:
        pass

    def enter_phase(self, phase: str) -> None:
        pass

    def before_op(self, kind: str) -> dict:
        self.spark.catalog.clearCache()  # per-query isolation, as in the oracle gate
        return {}

    def after_op(self, kind: str) -> None:
        pass

    def next_op(self, q: str | None = None):
        """A run of query ``q``, by default the next of the pass: every pass
        runs each query once, in an order shuffled from the seed."""
        if q is None:
            if not self.order:
                self.order = sorted(FAMILIES.values())
                self.rng.shuffle(self.order)
            q = self.order.pop()
        fn = self.queries[q]

        def call():
            if self.tracer is not None:
                return self.tracer.call(f"queries.{q}", fn, self.spark, self.data_dir)
            return fn(self.spark, self.data_dir)

        def check(rows) -> bool:
            if q not in self.expected:
                self.expected[q] = oracle_digest(self.data_dir, self.oracles[q])
            cols = list(rows[0].__fields__) if rows else self._columns(q)
            return digest(cols, [tuple(r) for r in rows]) == self.expected[q]

        return q, call, check

    def _columns(self, q: str) -> list[str]:
        return self.queries[q](self.spark, self.data_dir).columns

    def finish(self) -> bool:
        return True

    def layer_metrics(self, runner, session_s: float) -> dict:
        recs = [r for r in runner.records if "ms" in r]
        self.empty_job_ms = runner.counters.empty_job_ms()
        m = {
            "session.start_s": session_s,
            "spark.empty_job_ms": self.empty_job_ms,
            "failed_ratio": runner.failed / max(1, runner.attempted),
        }
        overhead = []
        for family, q in FAMILIES.items():
            tr = [r for r in recs if r["kind"] == q and r["traced"]]
            pl = [r["ms"] for r in recs if r["kind"] == q and not r["traced"]]
            if pl:
                m[family] = median(pl) / 1000
            if not tr:
                continue
            if pl:
                overhead.append(median([r["ms"] for r in tr]) / median(pl))
            p = f"queries.{q}."
            m[p + "build_s"] = median([r["span_ms"].get(f"queries.{q}", 0.0) for r in tr]) / 1000
            m[p + "wall_s"] = median([r["ms"] for r in tr]) / 1000
            for c in ("jobs", "executor_cpu_ms", "shuffle_write_bytes", "python_stage_ms"):
                m[p + c] = median([r["counters"][c] for r in tr])
            m[f"trace.{q}.unattributed_pct"] = median([100 * (r["ms"] - r["covered_ms"]) / r["ms"] for r in tr])
        if overhead:
            m["trace.overhead_pct"] = 100 * (math.prod(overhead) ** (1 / len(overhead)) - 1)
        return m

    def write_artifacts(self, out_dir: str, metrics: dict) -> None:
        """The ranked work list: queries by job count × the measured per-job
        constant, and by executor CPU."""
        rows = []
        for q in FAMILIES.values():
            p = f"queries.{q}."
            if p + "jobs" in metrics:
                rows.append(
                    {
                        "query": q,
                        "jobs": metrics[p + "jobs"],
                        "job_constant_ms": metrics[p + "jobs"] * self.empty_job_ms,
                        "executor_cpu_ms": metrics[p + "executor_cpu_ms"],
                        "wall_s": metrics[p + "wall_s"],
                    }
                )
        ranked = {
            "empty_job_ms": self.empty_job_ms,
            "by_job_constant": sorted(rows, key=lambda r: -r["job_constant_ms"]),
            "by_executor_cpu": sorted(rows, key=lambda r: -r["executor_cpu_ms"]),
        }
        with open(os.path.join(out_dir, f"ranked-{self.name}-{self.seed}.json"), "w") as fh:
            json.dump(ranked, fh, indent=2)
