"""The key-value workload, ``kv_lifecycle``: one client in a closed loop
driving the Engine (the Thrift-surface facade), with an LWW model of every
generated mutation that each read is checked against.

Data: row keys ``k00000000``… × 8 UTF8Type columns ``c0``…``c7``. The bulk
store is generated from the seed by Spark expressions; ``base_value`` is
the same function in Python, so the model never holds the bulk data.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import os
import random
import shutil
import time

from pyspark.sql import functions as F

from apache_cassandra_spark.catalog import Catalog
from apache_cassandra_spark.engine import Engine
from apache_cassandra_spark.model import ColumnPath, KeyRange, Mutation, SlicePredicate, SliceRange

from common import geomean, median, parquet_bytes, tail

KS, CF = "bench", "rows"
N_COLS = 8
COLS = [f"c{i}".encode() for i in range(N_COLS)]
#: timestamp of every bulk-loaded cell; generated mutations count up from here
TS0 = 1_000_000
#: fixed deletion time and compaction clock: tombstones stay inside gc grace
LDT = 1_700_000_000
SLICE_ALL = SlicePredicate(slice_range=SliceRange(count=100))
CATALOG = {KS: {CF: {"compare_with": "UTF8Type"}}}


def key_of(i: int) -> str:
    return f"k{i:08d}"


def token_of(key: str) -> str:
    return hashlib.md5(key.encode()).hexdigest()


def base_value(seed: int, key: str, col: bytes) -> bytes:
    """Bulk value of a cell, 16–256 bytes: half are a repeated 4-character
    pattern (compressible), half are chained sha256 hex (not)."""
    h = hashlib.sha256(f"{seed}:{key}:{col.decode()}".encode()).hexdigest()
    n = 16 + int(h[:4], 16) % 241
    if int(h[4], 16) < 8:
        s = h[5:9] * 64
    else:
        s = h + "".join(hashlib.sha256((h + d).encode()).hexdigest() for d in "123")
    return s[:n].encode()


def base_cells_df(spark, seed: int, n_keys: int):
    """The bulk store as a cell DataFrame, built by Spark expressions with
    exactly ``base_value``'s arithmetic."""
    i = (F.col("id") / N_COLS).cast("long")
    c = F.col("id") % N_COLS
    key = F.format_string("k%08d", i)
    col = F.concat(F.lit("c"), c.cast("string"))
    h = F.sha2(F.concat_ws(":", F.lit(str(seed)), key, col), 256)
    n = F.lit(16) + F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % 241
    rep = F.repeat(F.substring(h, 6, 4), 64)
    rnd = F.concat(h, *[F.sha2(F.concat(h, F.lit(d)), 256) for d in "123"])
    s = F.when(F.conv(F.substring(h, 5, 1), 16, 10).cast("int") < 8, rep).otherwise(rnd)
    return (
        spark.range(n_keys * N_COLS)
        .select(key.alias("key"), col.alias("col"), s.alias("s"), n.alias("n"))
        .select(
            "key",
            F.lit(None).cast("binary").alias("sc"),
            F.encode("col", "UTF-8").cast("binary").alias("column"),
            F.encode(F.expr("substring(s, 1, n)"), "UTF-8").cast("binary").alias("value"),
            F.lit(TS0).cast("long").alias("ts"),
            F.lit(False).alias("tombstone"),
            F.lit(None).cast("int").alias("ldt"),
        )
    )


class LWWModel:
    """Expected store contents: the bulk base plus every generated mutation,
    reduced by the engine's rule — per cell the highest (ts, tombstone,
    value) wins; a row tombstone shadows cells with ts <= its watermark."""

    def __init__(self, seed: int, n_keys: int):
        self.seed = seed
        self.n_keys = n_keys
        self.cells: dict[tuple[str, bytes], tuple[int, int, bytes]] = {}
        self.row_wm: dict[str, int] = {}

    def _merge(self, key: str, col: bytes, cand: tuple[int, int, bytes]) -> None:
        cur = self.cells.get((key, col))
        if cur is None or cand > cur:
            self.cells[(key, col)] = cand

    def put(self, key: str, col: bytes, value: bytes, ts: int) -> None:
        self._merge(key, col, (ts, 0, value))

    def delete_cell(self, key: str, col: bytes, ts: int) -> None:
        self._merge(key, col, (ts, 1, b""))

    def delete_row(self, key: str, ts: int) -> None:
        self.row_wm[key] = max(ts, self.row_wm.get(key, ts))

    def live_row(self, key: str) -> set[tuple]:
        """{(key, column, value, ts)} of the row's live cells."""
        in_base = int(key[1:]) < self.n_keys
        wm = self.row_wm.get(key)
        out = set()
        for c in COLS:
            w = self.cells.get((key, c))  # generated ts are all > TS0
            if w is None and in_base:
                w = (TS0, 0, base_value(self.seed, key, c))
            if w is None or w[1] or (wm is not None and w[0] <= wm):
                continue
            out.add((key, c, w[2], w[0]))
        return out

    def keys(self):
        """Every key that may hold live cells: the bulk keys, then new ones."""
        new = {k for k, _ in self.cells} | set(self.row_wm)
        new = sorted(k for k in new if int(k[1:]) >= self.n_keys)
        return itertools.chain((key_of(i) for i in range(self.n_keys)), new)


def rows_of(collected) -> set[tuple]:
    return {(r["key"], bytes(r["column"]), bytes(r["value"]), r["ts"]) for r in collected}




class KVLifecycle:
    """The store's life cycle under one client, in two measured phases.

    ``read`` — read-only traffic on the major-compacted store (the bucketed
    ``pre_reconciled`` path) with a 100-key hot set saved to the row cache.
    A pass: point ×2 (``get`` of one column and ``get_slice`` count=100, on
    uniform keys), hot_point (``get`` on a hot key), multiget
    (``multiget_slice`` of 100 uniform keys), range (``get_range_slices``
    count=100 from a random token).

    ``write`` — writes, deletes and reads on the same store, which now grows
    delta files. A pass: write (``batch_mutate`` of 10 rows × 1–8 columns,
    Zipf keys that include new keys), remove (column and whole-row
    tombstones, alternating), delta_point (``get_slice``; every other one on
    a recently written key), delta_multiget (``multiget_slice`` of 20 Zipf
    keys). Every batch is one durable commit (the Engine default).
    ``compact_minor_if_needed`` runs after every second write or remove; the
    run closes with a major ``compact`` and a check of the full live view.

    An op is ``(kind, call, check)``: ``call`` returns the lazy DataFrame
    (None for a write), ``check`` compares the collected rows with the
    model outside the timing."""

    name = "kv_lifecycle"
    N_KEYS = 5_000
    HOT = 100
    #: one pass of each phase's op cycle
    CYCLES = {
        "read": ("point", "point", "hot_point", "multiget", "range"),
        "write": ("write", "remove", "delta_point", "delta_multiget"),
    }
    #: (phase, share of ``--seconds``, kinds of its untimed warm-up ops,
    #: nominal seconds per pass on a 4-core x86 VM). The quarter of
    #: ``--seconds`` left over is the time the minor compactions and the
    #: closing major compaction and check take. Each warm-up is one pass, so
    #: no measured op is the first of its plan shape; the write phase's
    #: warm-up leaves a row tombstone, so measured reads already plan the
    #: shadow join.
    PHASES = (
        ("read", 0.25, CYCLES["read"], 2.2),
        ("write", 0.5, CYCLES["write"], 4.8),
    )
    READS = ("point", "hot_point", "multiget", "range", "delta_point", "delta_multiget")
    WRITES = ("write", "remove")
    #: a minor compaction is tried after every second write or remove, and
    #: merges as soon as two delta files are of similar size
    MINOR_EVERY = 2
    MINOR_THRESHOLD = 2

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.n_keys = self.N_KEYS
        self.rng = random.Random(seed)
        self.model = LWWModel(seed, self.n_keys)
        self.engine: Engine | None = None
        self.root = ""
        self._setups = 0
        self.phase = "read"
        self.PASS = len(self.CYCLES["read"])
        self.cycle: list[str] = []
        self.n_point = self.n_remove = 0
        self.hot = [key_of(i) for i in random.Random(seed + 1).sample(range(self.n_keys), self.HOT)]
        self.ring = sorted((token_of(key_of(i)), key_of(i)) for i in range(self.n_keys))
        universe = self.n_keys + self.n_keys // 10  # ranks past n_keys are new keys
        self.zipf_keys = list(range(universe))
        random.Random(seed + 2).shuffle(self.zipf_keys)
        self.zipf_cum = list(itertools.accumulate(1.0 / (r + 1) ** 1.1 for r in range(universe)))
        self.ts = TS0
        self.recent: list[str] = []
        self.writes = 0
        self.compacted = False  # a compaction ran since the last read
        self.prime_ms = self.space_amp = 0.0
        self.start_measure()

    # -- set-up -----------------------------------------------------------------
    def setup(self) -> None:
        """A fresh store root: bulk load, major compaction, the hot set
        saved to the row cache and primed by one hot read."""
        self._setups += 1
        self.root = os.path.join(self.workdir, f"store{self._setups}")
        self.engine = Engine(self.spark, self.root, Catalog.from_dict(CATALOG))
        self.engine.store.bulk_load(KS, CF, base_cells_df(self.spark, self.seed, self.n_keys))
        self.engine.compact(KS, CF, now=LDT)
        self.engine.store.save_row_cache(KS, CF, self.hot)
        t = time.perf_counter()
        self.engine.get(KS, self.hot[0], ColumnPath(CF, column=COLS[0])).collect()
        self.prime_ms = (time.perf_counter() - t) * 1000

    def drop_store(self) -> None:
        self.engine.store.invalidate_row_cache(KS, CF)
        shutil.rmtree(self.root, ignore_errors=True)

    def install_trace(self, tracer) -> None:
        tracer.install_store_layers(self.engine)
        tracer.wrap(self.engine, "remove", "engine.remove")

    # -- file accounting ----------------------------------------------------------
    def store_files(self) -> dict[str, int]:
        out = {}
        for dirpath, _dirs, files in os.walk(self.root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getsize(p)
        return out

    def _new_files(self) -> tuple[int, int]:
        now = self.store_files()
        new = [p for p in now if p not in self.files]
        self.files = now
        return len(new), sum(now[p] for p in new)

    def start_measure(self) -> None:
        """Start a fresh op cycle and zero the write-phase accounting
        (called after each phase's warm-up)."""
        self.cycle = []
        self.submitted = 0
        self.files = self.store_files() if self.root else {}
        self.minor_s = self.major_s = 0.0
        self.minor_runs = 0
        self.commit_files = self.commit_bytes = self.compact_bytes = self.major_bytes = 0

    def enter_phase(self, phase: str) -> None:
        self.phase = phase
        self.PASS = len(self.CYCLES[phase])
        self.cycle = []

    def before_op(self, kind: str) -> dict:
        rec = {"delta_files": parquet_bytes(os.path.join(self.root, KS, CF, "cells"))[0]}
        if kind in self.READS:
            rec["after_compaction"] = self.compacted
            self.compacted = False
        return rec

    def after_op(self, kind: str) -> None:
        """Account the op's new files; every ``MINOR_EVERY`` writes or
        removes, try a minor compaction (timed, outside any op's latency)."""
        if kind not in self.WRITES:
            return
        n, size = self._new_files()
        self.commit_files += n
        self.commit_bytes += size
        self.writes += 1
        if self.writes % self.MINOR_EVERY == 0:
            t = time.perf_counter()
            ran = self.engine.compact_minor_if_needed(KS, CF, min_threshold=self.MINOR_THRESHOLD)
            self.minor_s += time.perf_counter() - t
            self.minor_runs += ran
            self.compacted = self.compacted or ran
            self.compact_bytes += self._new_files()[1]

    # -- ops ----------------------------------------------------------------------
    def next_op(self, kind: str | None = None):
        """An op of ``kind``, by default the next of the phase's cycle: every
        pass holds the phase's exact mix in an order shuffled from the seed."""
        if kind is None:
            if not self.cycle:
                self.cycle = list(self.CYCLES[self.phase])
                self.rng.shuffle(self.cycle)
            kind = self.cycle.pop()
        if kind == "point":
            self.n_point += 1
            key = key_of(self.rng.randrange(self.n_keys))
            call, check = self.op_get(key) if self.n_point % 2 else self.op_get_slice(key)
        elif kind == "hot_point":
            call, check = self.op_get(self.rng.choice(self.hot))
        elif kind == "multiget":
            call, check = self.op_multiget([key_of(i) for i in self.rng.sample(range(self.n_keys), 100)])
        elif kind == "range":
            call, check = self.op_range(hashlib.md5(self.rng.randbytes(8)).hexdigest())
        elif kind == "write":
            call, check = self.op_write()
        elif kind == "remove":
            call, check = self.op_remove()
        elif kind == "delta_point":
            self.n_point += 1
            recent = self.n_point % 2 and self.recent
            key = self.rng.choice(self.recent[-50:]) if recent else key_of(self.rng.randrange(self.n_keys))
            call, check = self.op_get_slice(key)
        else:
            call, check = self.op_multiget(sorted({self._zipf_key() for _ in range(20)}))
        return kind, call, check

    def op_get(self, key: str):
        col = self.rng.choice(COLS)
        call = lambda: self.engine.get(KS, key, ColumnPath(CF, column=col))  # noqa: E731
        return call, lambda rows: rows_of(rows) == {r for r in self.model.live_row(key) if r[1] == col}

    def op_get_slice(self, key: str):
        call = lambda: self.engine.get_slice(KS, key, CF, SLICE_ALL)  # noqa: E731
        return call, lambda rows: rows_of(rows) == self.model.live_row(key)

    def op_multiget(self, keys: list[str]):
        call = lambda: self.engine.multiget_slice(KS, keys, CF, SLICE_ALL)  # noqa: E731
        return call, lambda rows: rows_of(rows) == set().union(*(self.model.live_row(k) for k in keys))

    def op_range(self, tok: str):
        """Only issued in the read phase, while the key set is the bulk one."""
        kr = KeyRange(start_token=tok, end_token=tok, count=100)
        call = lambda: self.engine.get_range_slices(KS, CF, SLICE_ALL, kr)  # noqa: E731

        def check(rows) -> bool:
            at = bisect.bisect_right(self.ring, (tok, "￿"))
            keys = [self.ring[(at + j) % len(self.ring)][1] for j in range(100)]
            return rows_of(rows) == set().union(*(self.model.live_row(k) for k in keys))

        return call, check

    def _ts(self) -> int:
        self.ts += 1
        return self.ts

    def _zipf_key(self) -> str:
        r = bisect.bisect_left(self.zipf_cum, self.rng.random() * self.zipf_cum[-1])
        return key_of(self.zipf_keys[r])

    def _value(self) -> bytes:
        n = self.rng.randint(16, 256)
        if self.rng.random() < 0.5:
            return (self.rng.randbytes(2).hex() * 64)[:n].encode()
        return self.rng.randbytes(n // 2 + 1).hex()[:n].encode()

    def op_write(self):
        muts: dict[str, dict[str, list[Mutation]]] = {}
        while len(muts) < 10:
            key = self._zipf_key()
            if key in muts:
                continue
            row = []
            for c in self.rng.sample(COLS, self.rng.randint(1, N_COLS)):
                ts, v = self._ts(), self._value()
                row.append(Mutation(column_name=c, value=v, timestamp=ts))
                self.model.put(key, c, v, ts)
                self.submitted += len(key) + len(c) + len(v)
            muts[key] = {CF: row}
            self.recent.append(key)
        return lambda: self.engine.batch_mutate(KS, muts, ldt=LDT), None

    def op_remove(self):
        key = self._zipf_key()
        ts = self._ts()
        self.n_remove += 1
        if self.n_remove % 2 == 0:
            col = self.rng.choice(COLS)
            path = ColumnPath(CF, column=col)
            self.model.delete_cell(key, col, ts)
            self.submitted += len(key) + len(col)
        else:
            path = ColumnPath(CF)
            self.model.delete_row(key, ts)
            self.submitted += len(key)
        self.recent.append(key)
        return lambda: self.engine.remove(KS, key, path, ts, ldt=LDT), None

    # -- closing check ---------------------------------------------------------------
    def finish(self) -> bool:
        """Space amplification at the end of the write phase, the closing
        major compaction, then the full live view against the model."""
        live = [row for key in self.model.keys() for row in self.model.live_row(key)]
        self.space_amp = sum(self.store_files().values()) / sum(len(k) + len(c) + len(v) for k, c, v, _ in live)
        t = time.perf_counter()
        self.engine.compact(KS, CF, now=LDT)
        self.major_s = time.perf_counter() - t
        self.major_bytes = self._new_files()[1]
        got = self.engine.cf(KS, CF).live().select("key", "column", F.md5("value").alias("h"), "ts")
        got = {(r["key"], bytes(r["column"]), r["h"], r["ts"]) for r in got.collect()}
        return got == {(k, c, hashlib.md5(v).hexdigest(), ts) for k, c, v, ts in live}

    def write_artifacts(self, out_dir: str, metrics: dict) -> None:
        pass

    # -- per-layer metrics -------------------------------------------------------------
    def layer_metrics(self, runner, session_s: float) -> dict:
        recs = [r for r in runner.records if "ms" in r]
        traced = [r for r in recs if r["traced"]]
        plain = [r for r in recs if not r["traced"]]

        def med(rs, f) -> float:
            return median([f(r) for r in rs])

        def spans(prefix):
            return lambda r: sum(v for n, v in r["span_ms"].items() if n.startswith(prefix))

        m = {
            "session.start_s": session_s,
            "spark.empty_job_ms": runner.counters.empty_job_ms(),
            "failed_ratio": runner.failed / max(1, runner.attempted),
            "cellstore.rowcache_prime_ms": self.prime_ms,
        }
        overhead = []
        for kind in self.READS + self.WRITES:
            tr = [r for r in traced if r["kind"] == kind]
            pl = [r["ms"] for r in plain if r["kind"] == kind]
            if not tr:
                continue
            m[f"engine.{kind}.call_ms"] = med(tr, spans("engine."))
            m[f"trace.{kind}.unattributed_pct"] = med(tr, lambda r: 100 * (r["ms"] - r["covered_ms"]) / r["ms"])
            if pl:
                overhead.append(med(tr, lambda r: r["ms"]) / median(pl))
            if kind in self.READS:
                m[f"read.{kind}.plan_ms"] = med(tr, spans("read."))
                m[f"read.{kind}.exec_ms"] = med(tr, spans("action"))
                m[f"read.{kind}.jobs"] = med(tr, lambda r: r["counters"]["jobs"])
                m[f"read.{kind}.shuffle_records"] = med(tr, lambda r: r["counters"]["shuffle_records"])
                m[f"reconcile.{kind}.sort_aggregates"] = med(tr, lambda r: r["plan"]["sort_aggregates"])
        m["trace.overhead_pct"] = 100 * (geomean(overhead) - 1) if overhead else 0.0
        reads = [r for r in traced if r["kind"] in self.READS]
        m["cellstore.bind_ms"] = med(reads, spans("cellstore.cf"))
        # share of the read phase's reads served from the row cache
        compacted = [r for r in reads if not r["kind"].startswith("delta_")]
        m["cellstore.rowcache_hit_ratio"] = sum(r["plan"]["in_memory_scans"] > 0 for r in compacted) / max(1, len(compacted))
        m["cellstore.delta_files"] = med([r for r in recs if r["kind"].startswith("delta_")], lambda r: r["delta_files"])
        rng = [r for r in traced if r["kind"] == "range"]
        if rng:
            m["read.range.rows_scanned_per_row"] = med(rng, lambda r: r["counters"]["input_records"] / max(1, r["rows"]))
            m["read.range.exchanges"] = med(rng, lambda r: r["plan"]["exchanges"])
        writes = [r for r in traced if r["kind"] in self.WRITES]
        m["write.build_ms"] = med([r for r in writes if r["kind"] == "write"], spans("write.batch_mutate"))
        m["cellstore.commit_ms"] = med(writes, spans("cellstore.apply"))
        m["cellstore.commit_jobs"] = med(writes, lambda r: r["counters"]["jobs"])
        m["cellstore.files_written"] = self.commit_files
        m["cellstore.bytes_written"] = self.commit_bytes
        m["maintenance.minor_s"] = self.minor_s
        m["maintenance.minor_runs"] = self.minor_runs
        m["maintenance.major_s"] = self.major_s
        m["maintenance.bytes_rewritten"] = self.compact_bytes + self.major_bytes
        m["maintenance.files_after"] = len(self.files)
        m["maintenance.post_compact_read_ms"] = med([r for r in recs if r.get("after_compaction")], lambda r: r["ms"])
        for kind in ("point", "multiget", "range", "delta_point", "delta_multiget", "write"):
            pl = [r["ms"] for r in plain if r["kind"] in ((kind,) if kind != "write" else self.WRITES)]
            m[f"{kind}_ms_p50"] = median(pl)
            if kind in ("point", "delta_point", "write"):
                m[f"{kind}_ms_tail"] = tail(pl)[0]
        m["compact_s"] = self.minor_s + self.major_s
        m["write_amp"] = (self.commit_bytes + self.compact_bytes) / max(1, self.submitted)
        m["space_amp"] = self.space_amp
        return m
