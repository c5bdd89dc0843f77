"""The store's life cycle checked against an independent LWW model.

A hypothesis state machine drives one Standard CF through the Engine:
inserts, cell and whole-row removes and ``batch_mutate`` with a whole-row
``Deletion``, each durable or buffered; flushes; minor compactions; major
compactions inside gc grace; row deletes in the legacy ``ctombs/`` layout;
and a second ``CellStore`` opened on the same root. Every Engine read
(``get_slice``, ``multiget_slice``, ``get_range_slices``; the last two of
every key after each step) and the Spark ``cf().live()`` view is checked
against ``perfbench/kv.py``'s ``LWWModel``,
a plain dictionary model that shares no code with ``reconcile.winners``,
``reconcile.live_rows`` or Spark ``reconcile()``."""

import os
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import RuleBasedStateMachine, invariant, rule, run_state_machine_as_test

from apache_cassandra_spark.catalog import Catalog
from apache_cassandra_spark.engine import Engine
from apache_cassandra_spark.model import ColumnPath, Deletion, KeyRange, Mutation, SlicePredicate, SliceRange

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, PERFBENCH)  # kv.py imports its sibling ``common``
try:
    from kv import COLS, LWWModel, key_of, rows_of
finally:
    sys.path.remove(PERFBENCH)

KS, CF = "KS", "Std"
CATALOG = {KS: {CF: {"compare_with": "BytesType"}}}
ALL = SlicePredicate(slice_range=SliceRange(count=100))

ALL_KEYS = [key_of(i) for i in range(4)]
KEYS = st.sampled_from(ALL_KEYS)
COL = st.sampled_from(COLS[:4])
VALUE = st.sampled_from([b"", b"x", b"y"])
TS = st.integers(min_value=1, max_value=4)  # narrow: ties and late writes are common
DURABLE = st.booleans()


def test_store_lifecycle_matches_lww_model(spark, tmp_path_factory):
    class Lifecycle(RuleBasedStateMachine):
        def __init__(self):
            super().__init__()
            self.root = str(tmp_path_factory.mktemp("lifecycle"))
            self.catalog = Catalog.from_dict(CATALOG)
            self.engine = Engine(spark, self.root, self.catalog)
            self.model = LWWModel(seed=0, n_keys=0)

        # -- state changes ------------------------------------------------
        @rule(key=KEYS, col=COL, value=VALUE, ts=TS, durable=DURABLE)
        def insert(self, key, col, value, ts, durable):
            self.engine.insert(KS, key, ColumnPath(CF, column=col), value, ts, durable=durable)
            self.model.put(key, col, value, ts)

        @rule(key=KEYS, col=COL, ts=TS, durable=DURABLE)
        def remove_cell(self, key, col, ts, durable):
            self.engine.remove(KS, key, ColumnPath(CF, column=col), ts, durable=durable)
            self.model.delete_cell(key, col, ts)

        @rule(key=KEYS, ts=TS, durable=DURABLE)
        def remove_row(self, key, ts, durable):
            self.engine.remove(KS, key, ColumnPath(CF), ts, durable=durable)
            self.model.delete_row(key, ts)

        @rule(
            key=KEYS,
            ts=TS,
            puts=st.lists(st.tuples(KEYS, COL, VALUE, TS), max_size=3),
            durable=DURABLE,
        )
        def batch_with_row_delete(self, key, ts, puts, durable):
            muts: dict = {key: {CF: [Mutation(deletion=Deletion(timestamp=ts))]}}
            for k, col, value, put_ts in puts:
                muts.setdefault(k, {CF: []})[CF].append(Mutation(column_name=col, value=value, timestamp=put_ts))
            self.engine.batch_mutate(KS, muts, durable=durable)
            self.model.delete_row(key, ts)
            for k, col, value, put_ts in puts:
                self.model.put(k, col, value, put_ts)

        @rule(key=KEYS, ts=TS)
        def legacy_row_delete(self, key, ts):
            """A row delete as the earlier two-directory layout committed
            it: one file of ``(key, sc, ts, ldt)`` rows in ``ctombs/``."""
            path = os.path.join(self.root, KS, CF, "ctombs")
            os.makedirs(path, exist_ok=True)
            ldt = pa.array([2**31 - 10], pa.int32())
            row = pa.table({"key": [key], "sc": pa.array([None], pa.binary()), "ts": [ts], "ldt": ldt})
            pq.write_table(row, os.path.join(path, f"part-{uuid.uuid4()}.zstd.parquet"), compression="zstd")
            self.model.delete_row(key, ts)

        @rule()
        def flush(self):
            self.engine.flush(KS, CF)

        @rule()
        def minor_compaction(self):
            self.engine.compact_minor_if_needed(KS, CF, min_threshold=2)

        @rule()
        def major_compaction_inside_grace(self):
            self.engine.compact(KS, CF)

        @rule()
        def second_store(self):
            """A second store on the root, after this one flushed."""
            self.engine.flush()
            self.engine = Engine(spark, self.root, self.catalog)

        # -- reads ---------------------------------------------------------
        def live(self, keys) -> set:
            return set().union(*(self.model.live_row(k) for k in keys))

        def ring(self) -> list:
            """Every key ever written, in token order: a major compaction
            inside grace purges nothing, so each stays a range candidate."""
            return sorted(self.model.keys(), key=self.engine.partitioner.token_of)

        @invariant()
        def driver_reads(self):
            """After every step, the driver-side key and range reads (no
            Spark job, so cheap) of every key."""
            assert rows_of(self.engine.multiget_slice(KS, ALL_KEYS, CF, ALL).collect()) == self.live(ALL_KEYS)
            got = self.engine.get_range_slices(KS, CF, ALL, KeyRange(start_token="", end_token="", count=3))
            assert rows_of(got.collect()) == self.live(self.ring()[:3])

        @rule(key=KEYS)
        def get_slice(self, key):
            assert rows_of(self.engine.get_slice(KS, key, CF, ALL).collect()) == self.live([key])

        @rule(keys=st.lists(KEYS, min_size=1, max_size=4))
        def multiget_slice(self, keys):
            assert rows_of(self.engine.multiget_slice(KS, keys, CF, ALL).collect()) == self.live(keys)

        @rule(count=st.integers(min_value=1, max_value=5))
        def range_slices(self, count):
            """The whole ring capped at ``count`` keys, ghosts included."""
            got = self.engine.get_range_slices(KS, CF, ALL, KeyRange(start_token="", end_token="", count=count))
            assert rows_of(got.collect()) == self.live(self.ring()[:count])

        @rule()
        def live_view(self):
            assert rows_of(self.engine.cf(KS, CF).live().collect()) == self.live(self.model.keys())

    run_state_machine_as_test(
        Lifecycle,
        settings=settings(
            max_examples=3,
            stateful_step_count=40,
            deadline=None,
            database=None,
            suppress_health_check=list(HealthCheck),
        ),
    )
