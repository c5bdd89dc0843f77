"""Client-facing write operators (SURVEY.md §2.2).

The reference's write path is WAL + in-memory LWW merge + flush
(``db/Table.java:568-660``); ours is append-only delta batches in cell
layout — the driver-written Parquet commit *is* the WAL, and the LWW merge happens
declaratively at read/compaction time (``functions/reconcile.py``). These
functions translate the Thrift mutation surface into cell / container-
tombstone rows; ``sources/cellstore.py`` persists them.

A ``MutationBatch`` for one CF == the reference's per-CF slice of a
``batch_mutate`` call (``db/RowMutation.java:270``): committed as one
atomic Parquet file (one per key domain for domain-split CFs), its
container tombstones stored as marker cells beside its cells, and
LWW-resolved against everything else by timestamp.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from apache_cassandra_spark.model import ColumnPath, Deletion, Mutation

#: cell tuple: (key, sc, column, value, ts, tombstone, ldt)
CellRow = tuple[str, bytes | None, bytes, bytes | None, int, bool, int | None]
#: container tombstone tuple: (key, sc, ts, ldt)
ContainerTombRow = tuple[str, bytes | None, int, int]


@dataclass
class MutationBatch:
    """Accumulates cell + container-tombstone rows for one CF."""

    cells: list[CellRow] = field(default_factory=list)
    container_tombstones: list[ContainerTombRow] = field(default_factory=list)

    def extend(self, other: MutationBatch) -> None:
        self.cells.extend(other.cells)
        self.container_tombstones.extend(other.container_tombstones)


def insert(key: str, path: ColumnPath, value: bytes, timestamp: int) -> MutationBatch:
    """W1 ``insert`` — upsert one cell (``CassandraServer.java:334-361``)."""
    b = MutationBatch()
    b.cells.append((key, path.super_column, path.column, value, timestamp, False, None))
    return b


def remove(key: str, path: ColumnPath, timestamp: int, local_deletion_time: int | None = None) -> MutationBatch:
    """W4 ``remove`` — tombstone a column, supercolumn, or whole row
    (``CassandraServer.java:427-442``). Row/container deletes become
    watermark records; higher-timestamped data survives them (LWW).

    ``local_deletion_time`` defaults to *now*, like the reference stamps
    server-side (``db/RowMutation.java:207``) — an ldt of 0 would let the
    first major compaction purge the tombstone while still inside
    gcGraceSeconds, resurrecting deletes under replayed older writes."""
    if local_deletion_time is None:
        local_deletion_time = int(time.time())
    b = MutationBatch()
    if path.column is not None:
        b.cells.append((key, path.super_column, path.column, None, timestamp, True, local_deletion_time))
    else:
        b.container_tombstones.append((key, path.super_column, timestamp, local_deletion_time))
    return b


def _apply_deletion(b: MutationBatch, key: str, d: Deletion, ldt: int, is_super: bool = False) -> None:
    if d.predicate is None:
        b.container_tombstones.append((key, d.super_column, d.timestamp, ldt))
        return
    if d.predicate.column_names is None:
        raise ValueError("Deletion predicate must be by names (slice-range deletes are not in 0.6 either)")
    for name in d.predicate.column_names:
        if is_super and d.super_column is None:
            # on a Super CF a name-predicate deletion WITHOUT super_column
            # addresses whole supercolumns: each name becomes a container
            # tombstone, not a cell tombstone (RowMutation.java:354-355)
            b.container_tombstones.append((key, name, d.timestamp, ldt))
        else:
            b.cells.append((key, d.super_column, name, None, d.timestamp, True, ldt))


def batch_mutate(
    mutations: dict[str, dict[str, list[Mutation]]],
    local_deletion_time: int | None = None,
    super_cfs: set[str] | frozenset[str] = frozenset(),
) -> dict[str, MutationBatch]:
    """W3 ``batch_mutate`` — per-row-atomic batch of upserts and deletes
    (``CassandraServer.java:384-425``). Returns one MutationBatch per CF
    name; caller commits each, cells and deletes together in one atomic
    file (one per key domain for a domain-split CF).

    ``super_cfs`` names the Super CFs in the batch: a name-predicate
    deletion without ``super_column`` on one of those deletes whole
    supercolumns (``RowMutation.java:348-364``).

    Deletion ``local_deletion_time`` is stamped server-side to *now* when
    not supplied, matching ``RowMutation.java:207``."""
    if local_deletion_time is None:
        local_deletion_time = int(time.time())
    out: dict[str, MutationBatch] = {}
    for key, by_cf in mutations.items():
        for cf_name, muts in by_cf.items():
            b = out.setdefault(cf_name, MutationBatch())
            for m in muts:
                if m.deletion is not None:
                    _apply_deletion(b, key, m.deletion, local_deletion_time, cf_name in super_cfs)
                else:
                    if m.column_name is None or m.timestamp is None:
                        raise ValueError("insert Mutation needs column_name and timestamp")
                    b.cells.append((key, m.super_column, m.column_name, m.value, m.timestamp, False, None))
    return out


def batch_insert(key: str, by_cf: dict[str, list[Mutation]]) -> dict[str, MutationBatch]:
    """W2 ``batch_insert`` (deprecated in the reference) — multi-CF
    single-key insert (``CassandraServer.java:363-382``)."""
    return batch_mutate({key: by_cf})
