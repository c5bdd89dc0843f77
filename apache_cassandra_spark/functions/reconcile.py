"""Last-write-wins cell reconciliation — THE core merge semantic.

Reference behavior being reproduced (exactly):

* ``db/Column.java:196-210`` (``comparePriority``): higher timestamp wins;
  on a timestamp tie a tombstone beats a live column; two live columns with
  equal timestamps -> larger value (unsigned byte order) wins.
* ``db/filter/QueryFilter.java:86-113`` (``collectCollatedColumns``): the
  k-way merge of memtable + SSTables that applies that reduction per column.
* ``db/ColumnFamilyStore.java:1036-1045`` + ``QueryFilter.java:120-128``
  (``isRelevant``): container (row / supercolumn) tombstones shadow any cell
  whose timestamp is <= the container's deletion timestamp.
* ``db/ColumnFamilyStore.java:663-726`` (``removeDeleted``): the live view
  drops cell tombstones after shadowing.

Spark-first shape: the k-way merge + reduce is one ``groupBy(key, sc,
column).agg(max_by(cell, priority))`` — Catalyst executes it hash-based
with map-side partial aggregation, so at 100 TB the merge is a single
shuffle on the cell coordinate, and any predicate on (key, sc, column)
commutes with the merge and is pushed below it by the operators layer.
Container tombstones are aggregated to one watermark per container and
left-joined on the SAME key(s) as the reconcile groupBy — so the join is
co-partitioned with the merge shuffle and AQE broadcasts the watermark side
only when its runtime size is actually small. No forced ``F.broadcast``:
under a delete-heavy 100 TB workload the watermark table is unbounded (one
row per tombstoned container) and a forced hint would override AQE's size
check and OOM the driver (same failure class as the round-5 dedup ``sizes``
broadcast; the reference never materializes the watermark set on one node
either — ``db/ColumnFamilyStore.java:1036-1045``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: canonical cell columns (FIXTURES.md cell layout)
CELL_COLS = ["key", "sc", "column", "value", "ts", "tombstone", "ldt"]


def priority() -> Column:
    """Orderable priority struct == ``Column.comparePriority`` semantics.

    Struct comparison is field-by-field: (ts, tombstone, value). Spark
    compares BinaryType unsigned-lexicographically, matching the
    reference's value tiebreak (``FBUtilities.compareByteArrays``).
    """
    return F.struct(
        F.col("ts").alias("p_ts"),
        F.col("tombstone").cast("int").alias("p_del"),
        F.col("value").alias("p_val"),
    )


def reconcile(cells: DataFrame) -> DataFrame:
    """Collapse multi-version cells to one winner per (key, sc, column).

    ``max_by`` over the priority struct; partial (map-side) aggregation
    combines versions before the single shuffle on the cell coordinate.

    Plan note (measured, round 3): this is a SortAggregate, and that is
    *unavoidable* — Spark's HashAggregateExec requires every aggregation
    buffer attribute to be UnsafeRow-mutable (fixed-size), which excludes
    both the ``max_by`` struct buffer AND a ``max`` over any variable-length
    binary/string; ObjectHashAggregate only serves imperative aggregates.
    An order-preserving single-binary encoding under one ``max`` was built
    and benched to test this: identical SortAggregate plan, 0.59s vs 0.57s
    on the sf0.1 lww_events merge — no win, so only the struct form ships.
    """
    winner = F.max_by(F.struct(*[F.col(c) for c in CELL_COLS]), priority()).alias("cell")
    return cells.groupBy("key", "sc", "column").agg(winner).select("cell.*")


def shadow_containers(
    cells: DataFrame, container_tombstones: DataFrame | None, with_sc_level: bool = True
) -> DataFrame:
    """Drop cells shadowed by row- or supercolumn-level tombstones.

    A cell is dead iff a container tombstone covering it has
    ``tomb.ts >= cell.ts`` (reference ``QueryFilter.isRelevant``: relevant
    when the column's timestamp is *greater than* markedForDeleteAt).
    Only the max watermark per container matters.

    Scale note (round 7): the watermark joins carry NO broadcast hint.
    The watermark table has one row per tombstoned container — unbounded
    under delete-heavy workloads — so the decision is left to AQE, which
    broadcasts when the built side is genuinely under the threshold and
    falls back to a shuffle join (co-partitioned on ``key``, the same key
    as the reconcile aggregate, hence nearly free) when it is not.
    Plan-locked in tests/test_plans.py: small-sf plans still show
    BroadcastHashJoin via AQE.
    """
    if container_tombstones is None:
        return cells

    row_w = (
        container_tombstones.where(F.col("sc").isNull())
        .groupBy("key")
        .agg(F.max("ts").alias("row_del_ts"))
    )
    out = (
        cells.join(row_w, "key", "left")
        .where(F.col("row_del_ts").isNull() | (F.col("ts") > F.col("row_del_ts")))
        .drop("row_del_ts")
    )
    if with_sc_level:
        # supercolumn-scoped watermarks only exist for Super CFs; Standard
        # CF callers pass with_sc_level=False to skip the join entirely
        sc_w = (
            container_tombstones.where(F.col("sc").isNotNull())
            .groupBy("key", "sc")
            .agg(F.max("ts").alias("sc_del_ts"))
        )
        out = (
            out.join(sc_w, ["key", "sc"], "left")
            .where(F.col("sc_del_ts").isNull() | (F.col("ts") > F.col("sc_del_ts")))
            .drop("sc_del_ts")
        )
    return out


def live_view(
    cells: DataFrame,
    container_tombstones: DataFrame | None = None,
    with_sc_level: bool = True,
    pre_reconciled: bool = False,
) -> DataFrame:
    """The reconciled *live* view: reconcile -> container shadowing -> drop
    cell tombstones. Every read operator is an expression over this.

    ``pre_reconciled=True`` skips the LWW aggregate entirely: compaction
    output (``gc_view``) holds exactly one version per (key, sc, column) —
    the winner of ``max_by`` — so re-reconciling is the identity. A CF
    backed *only* by its compacted bucketed table reads with no aggregate
    and no shuffle (the bucketed scan's HashPartitioning(key) satisfies the
    slice windows' distribution too)."""
    base = cells if pre_reconciled else reconcile(cells)
    return shadow_containers(base, container_tombstones, with_sc_level).where(
        ~F.col("tombstone")
    )


def cell_priority(ts: int, tombstone: bool, value: bytes | None) -> tuple:
    """``priority()`` as a driver-side sort key: ts, then a tombstone over
    a live cell, then the larger value, with a null value below every byte
    string (``b""`` included), as Spark orders the struct."""
    return (ts, tombstone, value is not None, value or b"")


def winners(rows) -> list[tuple]:
    """``reconcile`` on the driver, like ``QueryFilter.collectCollatedColumns``:
    the row of highest ``cell_priority`` per ``(key, sc, column)``,
    unordered. Rows start with ``CELL_COLS[:6]``; the whole row is kept,
    so ``ldt`` and any trailing field survive."""
    best: dict[tuple, tuple] = {}
    for row in rows:
        key, sc, column, value, ts, tombstone = row[:6]
        pri = cell_priority(ts, tombstone, value)
        cur = best.get((key, sc, column))
        if cur is None or pri > cur[0]:
            best[(key, sc, column)] = (pri, row)
    return [row for _, row in best.values()]


def live_rows(cells: list[tuple], container_tombstones: list[tuple], with_sc_level: bool = True) -> list[tuple]:
    """``live_view`` on the driver over a key-pinned read's rows
    (``CellStore.key_cells``): the ``winners`` that are neither cell
    tombstones nor shadowed by a row or supercolumn watermark, as
    ``(key, sc, column, value, ts)``, unordered."""
    marks: dict[tuple, int] = {}
    for key, sc, ts in container_tombstones:
        if sc is None or with_sc_level:
            marks[(key, sc)] = max(ts, marks.get((key, sc), ts))
    return [
        (key, sc, column, value, ts)
        for key, sc, column, value, ts, dead, *_ in winners(cells)
        if not dead
        and ts > marks.get((key, None), ts - 1)
        and (sc is None or ts > marks.get((key, sc), ts - 1))
    ]


def gc_view(
    cells: DataFrame,
    container_tombstones: DataFrame | None,
    gc_before: int,
) -> DataFrame:
    """Compaction output view (reference ``removeDeleted`` +
    ``CompactionManager.java:676``): reconciled cells with tombstones older
    than ``gc_before`` (seconds epoch, = now - gcGraceSeconds) purged but
    *younger* tombstones retained (they still shadow future late writes).
    """
    rec = shadow_containers(reconcile(cells), container_tombstones)
    return rec.where(~F.col("tombstone") | (F.col("ldt") >= F.lit(gc_before)))
