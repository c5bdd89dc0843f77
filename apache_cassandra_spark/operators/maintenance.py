"""Maintenance operators: compaction, tombstone GC, row processors,
cleanup, snapshot/export (SURVEY.md §2.5).

The reference's size-tiered compaction (``db/CompactionManager.java:87-131,
282-375``) k-way-merges SSTables, reconciles rows, and purges GC-able
tombstones. Major compaction is one declarative rewrite: reconciled
``gc_view`` -> sorted, bucketed Parquet. There is no bucketing *scheduler*
to port — bounded file count is the invariant, and a single rewrite
restores it. Minor compaction merges one size tier of delta files on the
driver with pyarrow, with no Spark job, holding at most
``memtable_threshold`` rows (``submit_minor_if_needed``).

``IRowProcessor`` (fork UDF hook, ``db/proc/IRowProcessor.java:36-76``,
invoked at flush/compaction ``db/Memtable.java:165-187``,
``io/CompactionIterator.java:140-156``) maps to ``applyInPandas`` over
whole-row groups — the one place Python-side code belongs, Arrow-batched.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_cassandra_spark.functions.reconcile import CELL_COLS, gc_view, winners
from apache_cassandra_spark.sources.cellstore import CELL_SCHEMA, CELLS_READ, MARKER, CellStore, _publish

#: IRowProcessor analog: pandas frame of one row's cells -> transformed
#: frame (empty frame == drop the row, mirroring "return null")
RowProcessor = Callable[[pd.DataFrame], pd.DataFrame]


def compact(
    store: CellStore,
    ks: str,
    cf_name: str,
    gc_grace_seconds: int | None = None,
    now: int | None = None,
    row_processor: RowProcessor | None = None,
    key_pred=None,
    buckets: int | None = None,
) -> None:
    """Major compaction (``CompactionManager.submitMajor:192-225``): rewrite
    the CF as its reconciled view with tombstone GC applied.

    * tombstones older than ``now - gcGraceSeconds`` are purged; younger
      ones kept (late writes must still lose to them) — exactly
      ``removeDeleted`` + ``CompactionManager.java:676``.
    * ``key_pred`` turns this into anti-compaction/cleanup
      (``doAntiCompaction:413-452``): only matching rows are kept.
    * output is hash-bucketed by key and sorted by (key, sc, column) inside
      each bucket — scans get clustered rows, point reads prune buckets.
      ``CellStore.publish_compaction`` writes and commits it.
    """
    store.flush(ks, cf_name)
    cf = store.cf(ks, cf_name)
    cfdef = cf.cfdef
    if gc_grace_seconds is None:
        gc_grace_seconds = cfdef.gc_grace_seconds
    if now is None:
        now = int(time.time())
    gc_before = now - gc_grace_seconds

    cells = cf.cells if key_pred is None else cf.cells.where(key_pred)
    tombs = cf.container_tombstones
    out = gc_view(cells, tombs, gc_before)

    if row_processor is None and cfdef.row_processors:
        row_processor = _chain([get_row_processor(n) for n in cfdef.row_processors])

    if row_processor is not None:
        proc = row_processor

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            res = proc(pdf)
            return pdf.iloc[0:0] if res is None else res

        out = out.groupBy("key").applyInPandas(run, CELL_SCHEMA)

    n_buckets = buckets or max(1, out.sparkSession.sparkContext.defaultParallelism)
    # container tombstones past grace are purged (every cell they shadowed
    # is gone from the rewrite); younger ones stay, as generation markers
    kept = None if tombs is None else tombs.where(F.col("ldt") >= F.lit(gc_before))
    store.publish_compaction(ks, cf_name, out, kept, n_buckets)


def submit_minor_if_needed(
    store: CellStore,
    ks: str,
    cf_name: str,
    min_threshold: int = 4,
    max_threshold: int = 32,
    bucket_ratio: float = 2.0,
) -> bool:
    """Size-tiered minor compaction (``CompactionManager.java:87-131``,
    bucketing ``:620-640``): group delta files into similar-size buckets
    (each file within ``bucket_ratio`` of the bucket average); merge any
    bucket with >= ``min_threshold`` files into one reconciled file.

    The merge runs on the driver with no Spark job, like the reference's
    one-node k-way merge (``io/CompactionIterator.java:106-160``): pyarrow
    reads the bucket's files, ``reconcile.winners`` keeps one cell per
    ``(key, sc, column)`` and passes the container-tombstone markers through
    (each keeps its ``ldt``), sorted by it (a null ``sc`` first), and
    ``cellstore._publish`` commits it as one file before the inputs are
    removed. A crash before the publish's rename leaves the inputs (and a
    hidden temp file no reader lists); after it, the merged file beside
    its inputs, which LWW collapses back to the same winners.

    The driver holds the merged rows, so a bucket is bounded the way the
    memtable is: it is trimmed, like ``max_threshold`` trims it, to the
    files whose Parquet-footer row counts sum to at most
    ``store.memtable_threshold``. If that leaves fewer than
    ``min_threshold`` files, nothing merges and the files wait for major
    compaction.

    LWW reconcile is associative, so merging a *subset* of files is always
    correct — but tombstones are NOT purged here (a purge is only safe when
    no older version can exist elsewhere, i.e. major compaction; the
    reference guards this with ``isKeyInRemainingSSTables``,
    ``db/ColumnFamilyStore.java:727``). Returns True if a merge ran.

    Each directory of delta cells is its own pool: ``cells/``, or each
    ``_dom=`` directory of a domain-split CF, whose merged file stays in it.
    """
    base = store._cf_dir(ks, cf_name)
    pools: dict[str, list[tuple[int, str]]] = {}
    for rel in store._files(ks, cf_name, "cells"):
        path = os.path.join(base, rel)
        pools.setdefault(os.path.dirname(path), []).append((os.path.getsize(path), path))
    ran = False
    for pool in sorted(pools):
        ran = _minor_in_pool(store, pool, sorted(pools[pool]), min_threshold, max_threshold, bucket_ratio) or ran
    return ran


def _minor_in_pool(
    store: CellStore, pool: str, files: list, min_threshold: int, max_threshold: int, bucket_ratio: float
) -> bool:
    # greedy size-tiered bucketing over the pool's sorted (size, path) list
    buckets: list[list[tuple[int, str]]] = []
    for size, path in files:
        if buckets and size <= bucket_ratio * (sum(s for s, _ in buckets[-1]) / len(buckets[-1])):
            buckets[-1].append((size, path))
        else:
            buckets.append([(size, path)])
    target = next((b for b in buckets if len(b) >= min_threshold), None)
    if target is None:
        return False
    paths, rows = [], 0
    for _, path in target[:max_threshold]:
        rows += pq.read_metadata(path).num_rows
        if rows > store.memtable_threshold:
            break
        paths.append(path)
    if len(paths) < min_threshold:
        return False
    table = ds.dataset(paths, schema=CELLS_READ, format="parquet").to_table()
    rows = list(zip(*[table.column(c).to_pylist() for c in CELL_COLS[:6]], range(table.num_rows)))
    merged = winners(r for r in rows if r[2] != MARKER) + [r for r in rows if r[2] == MARKER]
    merged.sort(key=lambda r: (r[0], r[1] is not None, r[1] or b"", r[2]))
    _publish(table.take(pa.array([r[-1] for r in merged], pa.int64())), pool)
    for p in paths:
        os.remove(p)
    return True


def cleanup(store: CellStore, ks: str, cf_name: str, key_pred) -> None:
    """``doCleanupCompaction`` (``CompactionManager.java:534-548``): drop
    rows no longer owned — compaction restricted to the keep-predicate."""
    compact(store, ks, cf_name, key_pred=key_pred)


# -- row processor registry (fork: config/storage-conf.xml:140-149) ---------

_ROW_PROCESSORS: dict[str, tuple[RowProcessor, bool]] = {}


def register_row_processor(
    name: str, proc: RowProcessor, process_incomplete: bool = False
) -> None:
    """Register a named processor for CFDef.row_processors chains.

    ``process_incomplete`` mirrors ``IRowProcessor.shouldProcessIncomplete``
    (``db/proc/IRowProcessor.java:70``): only processors registered True
    run at memtable flush, where a row's cells are NOT guaranteed complete
    (older generations may hold more cells for the same key). The default
    False is the safe choice — e.g. RemoveDeleted must NOT drop a young
    tombstone at flush or it would resurrect the older shadowed cells
    (the reference's RemoveDeletedRowProcessor returns false for exactly
    this reason)."""
    _ROW_PROCESSORS[name] = (proc, process_incomplete)


def get_row_processor(name: str) -> RowProcessor:
    return _ROW_PROCESSORS[name][0]


def processes_incomplete(name: str) -> bool:
    return _ROW_PROCESSORS[name][1]


def _chain(procs: list[RowProcessor]) -> RowProcessor:
    """RowProcessorChain semantics (``db/proc/RowProcessorChain.java``):
    each processor sees the previous one's output; null drops the row."""

    def chained(pdf: pd.DataFrame) -> pd.DataFrame:
        for p in procs:
            if pdf is None or len(pdf) == 0:
                break
            pdf = p(pdf)
        return pdf

    return chained


def flush_chain(cfdef) -> RowProcessor | None:
    """The CF's processor chain as applied at MEMTABLE FLUSH
    (``db/Memtable.java:165-187`` + ``RowProcessorChain.java:132-136``):
    members with ``process_incomplete=False`` are skipped in-chain; if no
    member processes incomplete rows the flush runs no chain at all
    (``shouldProcessIncomplete`` ORs over the chain). Returns a pandas
    row-group callable or None."""
    procs = [
        get_row_processor(n) for n in cfdef.row_processors if processes_incomplete(n)
    ]
    return _chain(procs) if procs else None


def _remove_deleted(pdf: pd.DataFrame) -> pd.DataFrame:
    """Built-in analog of ``db/proc/RemoveDeletedRowProcessor.java``
    (shouldProcessIncomplete = false: compaction-only)."""
    return pdf[~pdf["tombstone"]]


register_row_processor("RemoveDeleted", _remove_deleted, process_incomplete=False)


# -- data validation (AntiEntropy analog) ------------------------------------


def validate(cf, buckets: int = 16) -> DataFrame:
    """Checksum-based data validation — the single-copy analog of the
    reference's Merkle-tree AntiEntropy validator
    (``service/AntiEntropyService.java:58-120``, ``utils/MerkleTree.java``):
    one deterministic content hash per token-range bucket of the reconciled
    live view. Two stores (e.g. a snapshot vs the live table, or pre/post
    migration) agree iff every bucket hash matches.

    Returns (bucket, n_cells, content_hash).
    """
    token = cf.partitioner.token(F.col("key"))
    live = cf.live()
    cell_hash = F.md5(
        F.concat_ws(
            "\x00",
            F.col("key"),
            F.coalesce(F.hex("sc"), F.lit("-")),
            F.hex("column"),
            F.coalesce(F.hex("value"), F.lit("-")),
            F.col("ts").cast("string"),
        )
    )
    bucketed = live.select(
        F.abs(F.hash(token) % buckets).alias("bucket"), cell_hash.alias("h")
    )
    # order-insensitive combine in CONSTANT memory per bucket: two
    # independent 64-bit projections of each cell hash, reduced by the
    # commutative pair (wrap-proof decimal sum, bit_xor) + count, then one
    # md5 over the five scalars. A collect_list of per-cell hashes would
    # buffer the whole bucket in one aggregation buffer — billions of
    # strings per bucket at 100 TB; the reference's MerkleTree
    # (utils/MerkleTree.java) is constant-memory per range for the same
    # reason. Partial aggregation (map-side combine) applies, and the
    # digest is independent of row order and partitioning.
    x1 = F.xxhash64(F.col("h"))
    x2 = F.xxhash64(F.reverse(F.col("h")))
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").alias("n_cells"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.sum(x1.cast("decimal(38,0)")).cast("string"),
                    F.expr("bit_xor(xxhash64(h))").cast("string"),
                    F.sum(x2.cast("decimal(38,0)")).cast("string"),
                    F.expr("bit_xor(xxhash64(reverse(h)))").cast("string"),
                    F.count("*").cast("string"),
                )
            ).alias("content_hash"),
        )
    )


# -- snapshot / export / import (tools/SSTableExport.java:44,108-331) --------


def export_json(cf_cells: DataFrame, path: str) -> None:
    """SSTable->JSON export analog: cells as JSON lines, binary fields hex."""
    (
        cf_cells.select(
            "key",
            F.hex("sc").alias("sc"),
            F.hex("column").alias("column"),
            F.hex("value").alias("value"),
            "ts",
            "tombstone",
            "ldt",
        ).write.mode("overwrite").json(path)
    )


def import_json(spark, path: str) -> DataFrame:
    """JSON->cells import analog (``tools/SSTableImport.java``)."""
    # explicit schema: JSON omits all-null fields (e.g. sc/ldt), inference
    # would drop those columns
    raw = spark.read.schema(
        "key string, sc string, column string, value string, ts long, tombstone boolean, ldt int"
    ).json(path)
    return raw.select(
        F.col("key").cast("string"),
        F.unhex("sc").alias("sc"),
        F.unhex("column").alias("column"),
        F.unhex("value").alias("value"),
        F.col("ts").cast("long"),
        F.col("tombstone").cast("boolean"),
        F.col("ldt").cast("int"),
    )


def snapshot(store: CellStore, ks: str, cf_name: str, tag: str) -> str:
    """Hardlink snapshot (``db/ColumnFamilyStore.java:1283``) of every file
    a ``cf()`` bind reads: the delta cells and markers at the snapshot root
    (``_dom=XX/`` partitions kept), and the compacted generation and
    ``COMPACTED.json`` at their paths under the CF directory."""
    base = store._cf_dir(ks, cf_name)
    dst = os.path.join(base, "snapshots", tag)
    os.makedirs(dst, exist_ok=True)
    meta, files, _ = store._sources(ks, cf_name)
    if meta is not None:
        files += store._files(ks, cf_name, meta["path"]) + ["COMPACTED.json"]
    for rel in files:
        out = os.path.join(dst, os.path.relpath(rel, "cells") if rel.startswith("cells" + os.sep) else rel)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        os.link(os.path.join(base, rel), out)
    return dst
