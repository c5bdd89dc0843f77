"""Custom stateful streaming operator: incremental LWW materialization.

The reference applies LWW at write time in the memtable
(``db/Memtable.java:120-139`` ``resolve``) — the stream-processing analog
is a keyed state store holding the current winner per (key, sc, column)
and emitting an update only when a new mutation *wins* (same
``Column.comparePriority`` rule: ts, then tombstone, then value).

Implemented with ``applyInPandasWithState`` (Arrow-batched, per-group
state) — the idiomatic Spark shape for operators the built-in windowed
aggs can't express. Grouping key is (key, sc, column), so state size is
one row per live coordinate and the shuffle key matches the reconcile
key used everywhere else in the engine.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from apache_cassandra_spark.functions.reconcile import cell_priority

#: emitted update rows
UPDATE_SCHEMA = (
    "key string, sc binary, column binary, value binary, ts long, tombstone boolean"
)
#: persisted winner per coordinate
STATE_SCHEMA = "value binary, ts long, tombstone int"


def _update_group(
    group_key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    key, sc, column = group_key
    if state.exists:
        cur_value, cur_ts, cur_tomb = state.get
        best = cell_priority(cur_ts, bool(cur_tomb), cur_value)
    else:
        cur_value, cur_ts, cur_tomb = None, None, None
        best = None

    winner = None
    for pdf in pdfs:
        for row in pdf.itertuples(index=False):
            value = None if row.value is None else bytes(row.value)
            pri = cell_priority(int(row.ts), bool(row.tombstone), value)
            if best is None or pri > best:
                best = pri
                winner = (value, int(row.ts), bool(row.tombstone))

    if winner is not None:
        state.update((winner[0], winner[1], 1 if winner[2] else 0))
        yield pd.DataFrame(
            {
                "key": [key],
                "sc": [sc],
                "column": [column],
                "value": [winner[0]],
                "ts": [winner[1]],
                "tombstone": [winner[2]],
            }
        )


def lww_updates(cells: DataFrame) -> DataFrame:
    """Streaming (or batch) cell frame -> stream of LWW state *changes*.

    An input mutation that loses to the current state (older ts, or loses
    the tie-break) emits nothing — exactly the memtable ``resolve``
    behavior, incrementalized.
    """
    return cells.groupBy("key", "sc", "column").applyInPandasWithState(
        _update_group,
        outputStructType=UPDATE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
