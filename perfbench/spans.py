"""In-memory span tracer for the traced run.

The benchmark wraps a named list of the package's public entry points at
run time (the package itself is not edited) and records one span per call:
name, start, end, parent span and op id. Spans stay in memory and are
written out when the run ends. A layer's self time is its span's duration
minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object, bool]] = []
        #: the op the next spans belong to; None = tracing paused
        self.op: int | None = None

    # -- recording ----------------------------------------------------------
    def call(self, name: str, fn, *args, **kwargs):
        if self.op is None:
            return fn(*args, **kwargs)
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a recording wrapper (undone by
        ``uninstall``). ``owner`` is a module, a class or an instance."""
        had_own = attr in vars(owner)
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig, had_own))

    def install_store_layers(self, engine) -> None:
        """Wrap the key-value path: the Engine facade, the CellStore, the
        read and write operators, ``live_view`` where its callers resolve
        it, and the compaction entry points."""
        from apache_cassandra_spark.operators import maintenance, read, write

        # the package re-exports a function named ``reconcile``; fetch the module
        reconcile = importlib.import_module("apache_cassandra_spark.functions.reconcile")

        for m in ("get", "get_slice", "multiget_slice", "get_range_slices", "batch_mutate", "compact", "compact_minor_if_needed"):
            self.wrap(engine, m, f"engine.{m}")
        for m in ("cf", "apply", "bulk_load"):
            self.wrap(engine.store, m, f"cellstore.{m}")
        for f in ("get", "get_slice", "multiget_slice", "get_range_slices"):
            self.wrap(read, f, f"read.{f}")
        self.wrap(write, "batch_mutate", "write.batch_mutate")
        self.wrap(read, "live_view", "reconcile.live_view")
        self.wrap(reconcile, "live_view", "reconcile.live_view")
        self.wrap(maintenance, "compact", "maintenance.compact")
        self.wrap(maintenance, "submit_minor_if_needed", "maintenance.submit_minor_if_needed")

    def uninstall(self) -> None:
        for owner, attr, orig, had_own in reversed(self._undo):
            if had_own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._undo.clear()

    # -- analysis -------------------------------------------------------------
    def op_spans(self, op: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.op == op]

    def self_times_ms(self, op: int) -> dict[str, float]:
        """Self time per span name within one op (calls are sequential in
        one client thread, so child intervals never overlap)."""
        idx = self.op_spans(op)
        child_time: dict[int, float] = defaultdict(float)
        for i in idx:
            s = self.spans[i]
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i in idx:
            s = self.spans[i]
            out[s.name] += (s.end - s.start - child_time[i]) * 1000
        return dict(out)

    def total_ms(self, op: int, name: str) -> float:
        return sum((s.end - s.start) * 1000 for s in self.spans if s.op == op and s.name == name)

    def covered_ms(self, op: int) -> float:
        """Time covered by the op's root spans."""
        return sum((s.end - s.start) * 1000 for s in self.spans if s.op == op and s.parent is None)

    def dump(self, path: str) -> None:
        """The spans, and each traced op's self time per span name."""
        ops = sorted({s.op for s in self.spans if s.op is not None})
        with open(path, "w") as fh:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], "self_ms": {op: self.self_times_ms(op) for op in ops}},
                fh,
            )
