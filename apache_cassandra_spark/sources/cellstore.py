"""Parquet-backed column-family storage in cell layout.

Replaces the reference's storage stack — commitlog
(``db/commitlog/CommitLog.java``), memtable (``db/Memtable.java:62``), and
row-major SSTables (``io/SSTableWriter.java``) — with:

* **delta commits**: each applied MutationBatch becomes one Parquet file
  (one per ``_dom=`` directory for domain-split CFs), its row and
  supercolumn deletes in it as ``MARKER`` cells, written on the driver
  under a hidden temp name, fsynced and renamed into place — no Spark job.
  The commit is the WAL: recovery is the files simply being there, and a
  crash leaves at most a hidden temp file that no reader lists;
* **memtable analog**: an in-session row buffer, unioned into every read
  until flushed (reads always see their own writes, like the reference's
  memtable+SSTable collation);
* **key-pinned reads**: ``key_cells`` reads one request's keys from the
  same sources as ``cf()`` on the driver, with pyarrow, opening only the
  keys' bucket files (``_dom=`` directories for domain-split CFs) — the
  coordinator's collated read, no Spark plan; ``range_keys`` walks the
  sources' key column in batches for a range read's first keys in ring
  order;
* **one freshness check**: each ``cf()`` bind compares the CF's state
  (compacted generation, delta file names, memtable rows) with the state
  this store last bound; on a change it refreshes Spark's cached plans
  over the CF's delta directory, so a caller's ``CF.cached_rows()`` frame
  re-reads current storage. Writes, compactions and other stores on the root
  invalidate nothing themselves;
* **compaction** (``operators/maintenance.py``) periodically rewrites the
  reconciled view sorted by (key, sc, column) so the file count stays
  bounded and scans read one version per cell.

Layout on disk, under ``{root}/{keyspace}/{cf}/``:

    cells/            multi-version delta cells and container-tombstone
                      markers (the changelog), under ``_dom=XX/`` for
                      domain-split CFs
    compacted_g{N}/   compaction generation N: a bucketed catalog table,
                      or ``_dom=XX/`` Parquet for domain-split CFs; it
                      holds the markers still inside gc grace
    COMPACTED.json    pointer to the live generation; from a compaction's
                      flip until its cleanup it also lists the files and
                      generation it retires (``publish_compaction``)

A ``ctombs/`` directory of ``(key, sc, ts, ldt)`` files, which stores kept
container tombstones in before they became markers, is folded into
``cells/`` by the first read (``_sources``).
"""

from __future__ import annotations

import bisect
import errno
import functools
import hashlib
import itertools
import json
import os
import re
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

from apache_cassandra_spark.catalog import Catalog, CFDef
from apache_cassandra_spark.functions.tokens import OdklDomainPartitioner, Partitioner, RandomPartitioner, token_window
from apache_cassandra_spark.model import CF, KeyRange
from apache_cassandra_spark.operators.write import MutationBatch

CELL_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("sc", T.BinaryType(), True),
        T.StructField("column", T.BinaryType(), False),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("ts", T.LongType(), False),
        T.StructField("tombstone", T.BooleanType(), False),
        T.StructField("ldt", T.IntegerType(), True),
    ]
)

CONTAINER_TOMBSTONE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("sc", T.BinaryType(), True),
        T.StructField("ts", T.LongType(), False),
        T.StructField("ldt", T.IntegerType(), False),
    ]
)

#: a row or supercolumn delete ``(key, sc, ts, ldt)`` is stored as the cell
#: ``(key, sc, MARKER, NULL, ts, true, ldt)``; Thrift validation and
#: ``bulk_load`` reject an empty column name, so no real cell reads as one
MARKER = b""

# the characters Spark escapes as %XX in a partition directory name
# (ExternalCatalogUtils.escapePathName), so a committed file lands in the
# same ``_dom=`` directory as bulk_load's and reads back the same domain
_PATH_ESCAPED = frozenset(map(chr, range(1, 32))) | frozenset("\"#%'*/:=?\\\x7f{[]^")


# Spark's bucket-file name, ``part-…_00003.c000.zstd.parquet``
# (``BucketingUtils.getBucketId``)
_BUCKET_FILE = re.compile(r".*_(\d+)(?:\..*)?$")

# ``_publish``'s hidden temp name
_TEMP_FILE = re.compile(r"\.part-[0-9a-f-]{36}\.zstd\.parquet\.tmp")

# a temp file last written before this import belongs to no ``_publish`` of
# this process: a crashed commit or minor compaction left it behind
_IMPORTED = time.time()

# every cell column, nullable, as Spark reads every file (a minor
# compaction reads and writes its tier with it); a key-pinned read needs
# the cells up to ``tombstone``, a range read's key candidates ``key``
CELLS_READ = pa.schema([f.with_nullable(True) for f in to_arrow_schema(CELL_SCHEMA)])
_KEY_READ_CELLS = pa.schema(list(CELLS_READ)[:6])


def spark_bucket(key: str, buckets: int) -> int:
    """The bucket ``bucketBy(buckets, "key")`` writes ``key`` to:
    ``pmod(murmur3(key, seed 42), buckets)``. Spark's murmur3 of a string
    (``Murmur3_x86_32.hashUnsafeBytes``) mixes the UTF-8 bytes as
    little-endian 4-byte words, then each tail byte alone, sign-extended."""
    data = key.encode()
    m = 0xFFFFFFFF
    n4 = len(data) - len(data) % 4
    words = [int.from_bytes(data[i : i + 4], "little") for i in range(0, n4, 4)]
    h = 42
    for k in words + [(b - 256 if b > 127 else b) & m for b in data[n4:]]:
        k = (k * 0xCC9E2D51) & m
        k = ((k << 15) | (k >> 17)) * 0x1B873593 & m
        h ^= k
        h = (((h << 13) | (h >> 19)) * 5 + 0xE6546B64) & m
    h ^= len(data)
    h = (h ^ h >> 16) * 0x85EBCA6B & m
    h = (h ^ h >> 13) * 0xC2B2AE35 & m
    h ^= h >> 16
    return (h - (1 << 32) if h >> 31 else h) % buckets


def _scan(paths: list[str], schema: pa.Schema, keys: set) -> list[tuple]:
    """The rows of ``keys`` in the Parquet files ``paths``, as tuples of
    ``schema``'s columns."""
    if not paths or not keys:
        return []
    t = ds.dataset(paths, schema=schema, format="parquet").to_table(filter=pc.field("key").isin(list(keys)))
    return list(zip(*(t.column(n).to_pylist() for n in schema.names)))


def _dom_dir(key: str) -> str:
    dom = OdklDomainPartitioner().domain_of(key)
    return "_dom=" + "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in dom)


def _arrow_table(rows: list, schema: T.StructType) -> pa.Table:
    """``rows`` as an Arrow table of ``schema``. Each row first passes
    pyspark's schema verifier, the check Spark makes when it builds a
    DataFrame from Python rows: pyarrow alone would encode a ``str`` into a
    binary field, take a float ``ts`` and write a null into a non-nullable
    field."""
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow = to_arrow_schema(schema)
    return pa.Table.from_arrays([pa.array(col, f.type) for col, f in zip(zip(*rows), arrow)], schema=arrow)


def _markers(tombs: list) -> list:
    """Container tombstones ``(key, sc, ts, ldt)`` as ``MARKER`` cells, each
    checked first against ``CONTAINER_TOMBSTONE_SCHEMA``, which needs an ``ldt``."""
    verify = _make_type_verifier(CONTAINER_TOMBSTONE_SCHEMA)
    for tomb in tombs:
        verify(tomb)
    return [(key, sc, MARKER, None, ts, True, ldt) for key, sc, ts, ldt in tombs]


def _may_hold_markers(base: str, files: list[str]) -> bool:
    """Whether a Parquet file of ``files`` (relative to ``base``) may hold a
    ``MARKER`` cell: a row group's footer min of ``column`` is the marker
    (the least binary value), or the footer has no statistics for it."""
    for md in (pq.read_metadata(os.path.join(base, f)) for f in files):
        col = md.schema.names.index("column")
        stats = (md.row_group(g).column(col).statistics for g in range(md.num_row_groups))
        if any(s is None or not s.has_min_max or s.min == MARKER for s in stats):
            return True
    return False


def _fsync(path: str) -> None:
    """fsync a file or a directory by path."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _makedirs_durable(path: str) -> None:
    """``os.makedirs``, with each directory it creates fsynced into its parent."""
    if os.path.isdir(path):
        return
    parent = os.path.dirname(path) or os.curdir
    _makedirs_durable(parent)
    try:
        os.mkdir(path)
    except FileExistsError:
        return
    _fsync(parent)


def _publish(table: pa.Table, dirpath: str) -> None:
    """Commit ``table`` as one visible Parquet file in ``dirpath``. It is
    written under a temp name that starts with ``.`` and does not end in
    ``.parquet`` (Spark skips ``.`` names; every store lookup selects by the
    suffix), fsynced, renamed into place, and the rename fsynced. A crash
    leaves either nothing visible or the whole file."""
    _makedirs_durable(dirpath)
    name = f"part-{uuid.uuid4()}.zstd.parquet"
    # zstd like every Parquet file the session writes (session.py); every
    # delta is read with an explicit schema: no Arrow schema blob
    _replace_durably(
        os.path.join(dirpath, f".{name}.tmp"),
        os.path.join(dirpath, name),
        lambda fh: pq.write_table(table, fh, compression="zstd", store_schema=False),
    )


def _replace_durably(tmp: str, path: str, write) -> None:
    """``write(fh)`` into ``tmp``, fsync it, rename it to ``path`` and fsync
    the rename."""
    with open(tmp, "wb") as fh:
        write(fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    _fsync(os.path.dirname(path))


class CellStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        catalog: Catalog,
        partitioner: Partitioner | None = None,
        memtable_threshold: int = 100_000,
    ) -> None:
        self.spark = spark
        self.root = root
        self.catalog = catalog
        self.partitioner = partitioner or RandomPartitioner()
        self.memtable_threshold = memtable_threshold
        # memtable analog: pending rows per (ks, cf)
        self._pending: dict[tuple[str, str], MutationBatch] = {}
        # (ks, cf) -> the CF state this store last bound (see cf())
        self._bound: dict[tuple[str, str], tuple] = {}

    # -- paths --------------------------------------------------------------
    def _cf_dir(self, ks: str, cf: str) -> str:
        return os.path.join(self.root, ks, cf)

    def _cells_dir(self, ks: str, cf: str) -> str:
        return os.path.join(self.root, ks, cf, "cells")

    def _files(self, ks: str, cf: str, sub: str, pick=lambda f: f.endswith(".parquet")) -> list[str]:
        """CF-relative paths of the files ``pick`` selects by name under
        ``sub``, ``_dom=`` partition directories included (Spark's
        ``_temporary`` is not). By default the Parquet files, which leaves
        out a commit's hidden temp file."""
        base = self._cf_dir(ks, cf)
        out = []
        for dirpath, dirnames, filenames in os.walk(os.path.join(base, sub)):
            dirnames[:] = [d for d in dirnames if d.startswith("_dom=")]
            out += [os.path.relpath(os.path.join(dirpath, f), base) for f in filenames if pick(f)]
        return out

    def _abandoned_temps(self, ks: str, cf: str) -> list[str]:
        """The hidden ``_publish`` temp files in ``cells/`` last written
        before this module was imported: a crashed commit or minor
        compaction left them, and no reader lists them."""
        base = self._cf_dir(ks, cf)

        def stale(rel: str) -> bool:
            try:
                return os.path.getmtime(os.path.join(base, rel)) < _IMPORTED
            except FileNotFoundError:  # renamed into place meanwhile
                return False

        return [f for f in self._files(ks, cf, "cells", _TEMP_FILE.fullmatch) if stale(f)]

    # -- saved caches --------------------------------------------------------
    #
    # The reference persists its row cache's hot-key list and re-primes it on
    # startup (``db/ColumnFamilyStore.java:213-311``). Every Engine key read
    # and range read runs on the driver and binds no Spark frame, so nothing
    # here is primed; the two calls stay for callers written against them.

    def save_row_cache(self, ks: str, cf_name: str, keys) -> None:
        """No-op: there is no store-primed row cache to warm. Kept so a
        caller that saves its hot-key list keeps working; it writes nothing."""

    def invalidate_row_cache(self, ks: str, cf_name: str) -> None:
        """No-op: there is no store-primed row cache to drop. ``cf()``'s bind
        keeps a caller-owned ``CF.cached_rows()`` frame current."""

    # -- compacted generations (the intended 100 TB read layout) ------------
    #
    # Major compaction writes the reconciled view as generation
    # ``compacted_g{N}``. Standard CFs get a *bucketed catalog table*
    # (bucketBy(key) + sortBy(key, sc, column)) instead of plain files, so
    # the scan reports HashPartitioning(key) and post-compaction reads run
    # with no shuffle exchange: the reconcile aggregate is skipped outright
    # (one version per coordinate — see CF.pre_reconciled) and the slice
    # windows' ClusteredDistribution(key) is satisfied by the scan itself.
    # Domain-split CFs get ``_dom``-partitioned Parquet and no table, so
    # point reads keep pruning to one domain. A JSON pointer file records
    # (gen, table, path, buckets); a fresh session re-registers the table
    # from it via DDL.

    def _compacted_meta_path(self, ks: str, cf: str) -> str:
        return os.path.join(self.root, ks, cf, "COMPACTED.json")

    def compacted_meta(self, ks: str, cf: str) -> dict | None:
        p = self._compacted_meta_path(ks, cf)
        if not os.path.isfile(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def write_compacted_meta(self, ks: str, cf: str, meta: dict) -> None:
        p = self._compacted_meta_path(ks, cf)
        _replace_durably(p + ".tmp", p, lambda fh: fh.write(json.dumps(meta).encode()))  # atomic pointer flip

    def publish_compaction(
        self, ks: str, cf: str, out: DataFrame, kept_tombs: DataFrame | None, buckets: int
    ) -> None:
        """The one commit of a major compaction, for every CF: (1) write
        ``out`` with ``kept_tombs`` (container tombstones inside grace) as
        ``MARKER`` cells as generation ``compacted_g{N}``, each marker in
        its key's bucket file or ``_dom=`` directory; (2) flip
        ``COMPACTED.json`` to the generation, listing what it retires: the
        delta files listed before (1), the temp files crashed commits
        abandoned (``_abandoned_temps``) and the previous generation, once
        the output of (1) is fsynced; (3) ``_retire`` them. A crash before
        (2) leaves the old pointer over every input; the next read
        finishes a crash after it. So no reader sees a consumed delta
        beside a generation that purged the tombstones shadowing it."""
        cfdef = self.catalog.keyspace(ks).cf(cf)
        base = self._cf_dir(ks, cf)
        retire = self._files(ks, cf, "cells") + self._abandoned_temps(ks, cf)
        old = self.compacted_meta(ks, cf)
        gen = old["gen"] + 1 if old else 1
        path = os.path.join(base, f"compacted_g{gen}")
        shutil.rmtree(path, ignore_errors=True)  # orphan of a run cut short before its flip
        if kept_tombs is not None:
            marker = [F.lit(MARKER).alias("column"), F.lit(None).cast("binary").alias("value")]
            out = out.unionByName(kept_tombs.select("key", "sc", *marker, "ts", F.lit(True).alias("tombstone"), "ldt"))
        # repartition on the bucket key aligns tasks with buckets -> exactly
        # one file per bucket (per domain, for domain-split CFs)
        out = out.repartition(buckets, "key")
        if cfdef.domain_split:
            table, out = None, out.sortWithinPartitions("key", "sc", "column")
            writer = out.withColumn("_dom", OdklDomainPartitioner().domain(F.col("key"))).write.partitionBy("_dom")
        else:
            h = hashlib.md5(f"{os.path.abspath(self.root)}/{ks}/{cf}".encode()).hexdigest()[:10]
            table = f"cass_compacted_{h}_g{gen}"
            writer = out.write.bucketBy(buckets, "key").sortBy("key", "sc", "column").option("path", path)
        writer = writer.mode("overwrite")
        if cfdef.bloom_columns:
            # fork column-bloom analog: Parquet bloom filters on the name/key
            # columns (probe served by io skipping instead of explicit BFs)
            writer = writer.options(
                **{"parquet.bloom.filter.enabled#key": "true", "parquet.bloom.filter.enabled#column": "true"}
            )
        if table is None:
            writer.parquet(path)
        else:
            writer.saveAsTable(table)
        if old is not None:
            retire.append(os.path.relpath(os.path.join(base, old["path"]), base))
        meta = {"gen": gen, "table": table, "path": os.path.basename(path), "buckets": buckets}
        meta.update(retire=retire, retire_table=old["table"] if old else None)
        # Spark does not fsync what it writes: make the generation durable
        # before the flip lets _retire delete inputs
        outputs = self._files(ks, cf, meta["path"])
        for rel in outputs + sorted({os.path.dirname(f) for f in outputs} | {meta["path"]}):
            _fsync(os.path.join(base, rel))
        self.write_compacted_meta(ks, cf, meta)
        self._retire(ks, cf, meta)

    def _retire(self, ks: str, cf: str, meta: dict) -> None:
        """Step 4 of ``publish_compaction``: delete what the pointer
        ``meta`` retires, with the ``.crc`` sidecar Spark's writer leaves
        beside each file, and any ``_dom=`` directory that leaves empty,
        drop the old table, then rewrite the pointer without the list.
        Only listed files are deleted by name: a directory that still
        holds a file (a running commit's temp file) stays. Missing entries
        are skipped, so a run cut short is finished by running it again."""
        base = self._cf_dir(ks, cf)
        retire = meta.pop("retire")
        for p in (os.path.join(base, rel) for rel in retire):
            if os.path.isdir(p):
                shutil.rmtree(p)  # the previous generation, which its compaction owns whole
                continue
            d, name = os.path.split(p)
            for f in (p, os.path.join(d, f".{name}.crc")):
                try:
                    os.remove(f)
                except FileNotFoundError:  # a pyarrow-written file has no sidecar
                    pass
        for d in {os.path.join(base, os.path.dirname(rel)) for rel in retire if "_dom=" in rel}:
            try:
                os.rmdir(d)
            except OSError as e:
                if e.errno not in (errno.ENOTEMPTY, errno.ENOENT):  # a file left in it stays
                    raise
        table = meta.pop("retire_table")
        if table:
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        self.write_compacted_meta(ks, cf, meta)

    def _compacted_df(self, ks: str, cf: str, meta: dict, schema: T.StructType) -> DataFrame:
        """The compacted generation: plain Parquet when the pointer names no
        table, else spark.table, re-registering the bucketed table from the
        pointer if this session hasn't seen it."""
        path = os.path.join(self._cf_dir(ks, cf), meta["path"])
        name = meta["table"]
        if name is None:
            return self.spark.read.schema(schema).parquet(path)
        if not self.spark.catalog.tableExists(name):
            cols = (
                "key STRING, sc BINARY, `column` BINARY, value BINARY, "
                "ts BIGINT, tombstone BOOLEAN, ldt INT"
            )
            self.spark.sql(
                f"CREATE TABLE {name} ({cols}) USING PARQUET "
                f"CLUSTERED BY (key) SORTED BY (key, sc, `column`) "
                f"INTO {meta['buckets']} BUCKETS LOCATION '{path}'"
            )
        return self.spark.table(name)

    # -- write path ----------------------------------------------------------
    def apply(self, ks: str, cf: str, batch: MutationBatch, durable: bool = True) -> None:
        """Apply one mutation batch (≈ ``Table.apply``,
        ``db/Table.java:568-660``). ``durable=True`` commits immediately
        (batch commitlog mode); ``False`` buffers in the memtable analog
        until ``flush`` or the threshold (periodic mode)."""
        if durable:
            self._commit(ks, cf, batch)
            return
        pend = self._pending.setdefault((ks, cf), MutationBatch())
        pend.extend(batch)
        if len(pend.cells) + len(pend.container_tombstones) >= self.memtable_threshold:
            self.flush(ks, cf)

    def flush(self, ks: str | None = None, cf: str | None = None) -> None:
        """Flush memtable analog to Parquet (≈ ``Memtable.flushAndSignal``)."""
        keys = [k for k in self._pending if (ks is None or k[0] == ks) and (cf is None or k[1] == cf)]
        for k in keys:
            self._commit(k[0], k[1], self._pending.pop(k))

    def _commit(self, ks: str, cf: str, batch: MutationBatch) -> None:
        """Commit ``batch`` as one file: its cells after the flush chain, then
        its container tombstones as ``MARKER`` cells, all checked first."""
        rows = self._apply_flush_processors(ks, cf, batch.cells) + _markers(batch.container_tombstones)
        if rows:
            self._publish_cells(ks, cf, _arrow_table(rows, CELL_SCHEMA))

    def _publish_cells(self, ks: str, cf: str, table: pa.Table) -> None:
        """``_publish`` ``table`` into ``cells/``: one file, or one per
        ``_dom=`` directory of a domain-split CF, so each row commits whole."""
        cells_dir = self._cells_dir(ks, cf)
        if not self.catalog.keyspace(ks).cf(cf).domain_split:
            _publish(table, cells_dir)
            return
        doms: dict[str, list[int]] = {}
        for i, key in enumerate(table.column("key").to_pylist()):
            doms.setdefault(_dom_dir(key), []).append(i)
        for d, rows in doms.items():
            _publish(table.take(rows), os.path.join(cells_dir, d))

    def _apply_flush_processors(self, ks: str, cf: str, cells: list) -> list:
        """Run the CF's flush-capable row-processor chain over the cells
        being flushed (``db/Memtable.java:165-187``: the chain is applied
        per row between the memtable and the SSTable, so a dropping
        processor's cells never become visible to raw-cell probes or
        range-ghost candidacy — previously they survived until the next
        compaction, a real divergence window vs the reference).

        The memtable analog is driver-resident (a MutationBatch of python
        rows, bounded by ``memtable_threshold``), so this is a driver-side
        pandas pass over exactly the rows the reference's single-threaded
        ``writeSortedContents`` walks — no Spark job. Only processors
        registered ``process_incomplete=True`` participate (see
        ``maintenance.flush_chain``); chain order is CFDef declaration
        order with non-participants skipped in place. Container
        tombstones are row-deletion metadata, not cells — the reference
        chain sees them only as the CF's deletion info, and they commit
        unprocessed here too."""
        from apache_cassandra_spark.operators import maintenance

        chain = maintenance.flush_chain(self.catalog.keyspace(ks).cf(cf))
        if chain is None:
            return cells
        import pandas as pd

        pdf = pd.DataFrame(cells, columns=CELL_SCHEMA.fieldNames())

        def clean(row: tuple) -> tuple:
            # undo pandas' nullable-int → float64/NaN coercion (ldt)
            key, sc, column, value, ts, tombstone, ldt = row
            return (
                key,
                None if sc is None or sc is pd.NA else sc,
                column,
                None if value is None or value is pd.NA else value,
                int(ts),
                bool(tombstone),
                None if pd.isna(ldt) else int(ldt),
            )

        cols = CELL_SCHEMA.fieldNames()
        out = []
        for _, group in pdf.groupby("key", sort=False):
            res = chain(group)
            if res is not None and len(res):
                # processors may reorder/add columns; the contract (same as
                # the compaction path's applyInPandas schema) is CELL_SCHEMA
                out.extend(clean(t) for t in res[cols].itertuples(index=False, name=None))
        return out

    def bulk_load(self, ks: str, cf: str, cells: DataFrame) -> None:
        """W5 binary/bulk load (``db/BinaryMemtable.java:45``): pre-shaped
        cell DataFrame straight to storage, bypassing the memtable path. A
        cell with an empty ``column`` (a ``MARKER``) fails the load's job."""
        cast = {f.name: F.col(f.name).cast(f.dataType) for f in CELL_SCHEMA.fields}
        empty = F.raise_error(F.lit("bulk_load: a cell's column name may not be empty"))
        cast["column"] = F.when(cast["column"] == F.lit(MARKER), empty).otherwise(cast["column"]).alias("column")
        shaped = cells.select(list(cast.values()))
        writer = shaped.write
        if self.catalog.keyspace(ks).cf(cf).domain_split:
            # fork domain-split CFs (CFMetaData.java:49-53): physically
            # partition by the key's domain so point reads prune to 1/256
            dom = OdklDomainPartitioner().domain(F.col("key"))
            writer = shaped.withColumn("_dom", dom).write.partitionBy("_dom")
        writer.mode("append").parquet(self._cells_dir(ks, cf))

    # -- read path -----------------------------------------------------------
    def _sources(self, ks: str, cf_name: str) -> tuple:
        """What a read of the CF sees: the live generation's pointer, the
        delta cell files and the pending memtable rows. A compaction cut
        short after its flip is finished first, then a legacy ``ctombs/``
        is folded into ``cells/``."""
        meta = self.compacted_meta(ks, cf_name)
        if meta is not None and "retire" in meta:
            self._retire(ks, cf_name, meta)
        self._fold_ctombs(ks, cf_name)
        return meta, self._files(ks, cf_name, "cells"), self._pending.get((ks, cf_name))

    def _fold_ctombs(self, ks: str, cf_name: str) -> None:
        """Stores kept container tombstones ``(key, sc, ts, ldt)`` in a
        ``ctombs/`` directory before they became ``MARKER`` cells:
        republish each of its files as markers through ``_publish_cells``,
        then delete the file and its ``.crc``, then the directory. A crash
        between the two steps leaves duplicate markers, which change
        nothing: only the highest watermark per container counts."""
        legacy = os.path.join(self._cf_dir(ks, cf_name), "ctombs")
        if not os.path.isdir(legacy):
            return
        for name in sorted(f for f in os.listdir(legacy) if f.endswith(".parquet")):
            names = CONTAINER_TOMBSTONE_SCHEMA.fieldNames()
            t = pq.read_table(os.path.join(legacy, name), columns=names)
            tombs = list(zip(*(t.column(n).to_pylist() for n in names)))
            if tombs:
                self._publish_cells(ks, cf_name, _arrow_table(_markers(tombs), CELL_SCHEMA))
            for f in (name, f".{name}.crc"):
                if os.path.exists(os.path.join(legacy, f)):
                    os.remove(os.path.join(legacy, f))
        shutil.rmtree(legacy)

    def key_cells(self, ks: str, cf_name: str, keys) -> tuple[list[tuple], list[tuple]]:
        """Every stored version of ``keys``' cells ``(key, sc, column,
        value, ts, tombstone)`` and container tombstones ``(key, sc, ts)``,
        read on the driver from ``cf()``'s sources with no Spark job; the
        stored ``MARKER`` cells are the container tombstones. In the
        generation only the keys' bucket files are opened, the bucket id
        standing in for the reference's index summary
        (``io/IndexSummary.java:32-68``); a domain-split CF opens only the
        keys' ``_dom=`` directories, of the generation and of the deltas."""
        meta, files, pend = self._sources(ks, cf_name)
        keys = set(keys)
        doms = {_dom_dir(k) for k in keys} if self.catalog.keyspace(ks).cf(cf_name).domain_split else None
        if meta is not None:
            gen = self._files(ks, cf_name, meta["path"])
            if meta["table"] is not None:
                ids = {spark_bucket(k, meta["buckets"]) for k in keys}
                gen = [f for f in gen if (b := _BUCKET_FILE.match(os.path.basename(f))) is None or int(b[1]) in ids]
            files = files + gen
        if doms is not None:
            files = [f for f in files if os.path.basename(os.path.dirname(f)) in doms]
        base = self._cf_dir(ks, cf_name)
        rows = _scan([os.path.join(base, f) for f in files], _KEY_READ_CELLS, keys)
        cells = [r for r in rows if r[2] != MARKER]
        tombs = [(r[0], r[1], r[4]) for r in rows if r[2] == MARKER]
        if pend is not None:
            cells += [c[:6] for c in pend.cells if c[0] in keys]
            tombs += [t[:3] for t in pend.container_tombstones if t[0] in keys]
        return cells, tombs

    def range_keys(self, ks: str, cf_name: str, key_range: KeyRange) -> list[str]:
        """The first ``key_range.count`` keys of the range in ring order,
        ``(past the wrap, token, key)`` as ``read.get_range_slices`` sorts
        them, found on the driver with no Spark job: the reference's
        ``getKeyRange`` over memtable and SSTable keys
        (``db/ColumnFamilyStore.java:1125-1239``). A key is a candidate if
        ``cf()``'s sources hold any cell version or container tombstone of
        it: the key column of the generation and of the delta ``cells/``
        files, read one record batch at a time, and the pending memtable
        keys. Each distinct key of a batch is tokenized with
        ``partitioner.token_of``; only the best ``count`` are held, so
        memory is O(count + batch). Each call reads every stored key once
        on this one process: the same O(rows) key scan as the Spark plan,
        which spreads it over executors."""
        meta, files, pend = self._sources(ks, cf_name)
        files = files + (self._files(ks, cf_name, meta["path"]) if meta is not None else [])
        paths = [os.path.join(self._cf_dir(ks, cf_name), f) for f in files]
        batches = ds.dataset(paths, schema=CELLS_READ, format="parquet").to_batches(columns=["key"])
        keys = (pc.unique(b.column(0)).to_pylist() for b in batches)
        if pend is not None:
            keys = itertools.chain(keys, [{c[0] for c in pend.cells} | {t[0] for t in pend.container_tombstones}])
        window, token_of, count = token_window(self.partitioner, key_range), self.partitioner.token_of, key_range.count
        best: list[tuple] = []  # ascending, at most ``count`` entries
        held: set[str] = set()
        for batch in keys:
            for key in batch:
                if key in held:
                    continue
                t = token_of(key)
                if window.contains(t) is False:
                    continue
                entry = (bool(window.past_wrap(t)), t, key)
                if len(best) == count and entry >= best[-1]:
                    continue  # so is a key evicted earlier: the cut only tightens
                bisect.insort(best, entry)
                held.add(key)
                if len(best) > count:
                    held.discard(best.pop()[2])
        return [key for _, _, key in best]

    def cf(self, ks: str, cf_name: str) -> CF:
        """Bind a CF handle: compacted generation ∪ delta cells ∪ pending memtable.

        When the compacted generation is the *only* source (no delta files
        since compaction, nothing pending), the CF is marked
        ``pre_reconciled``: reads skip the LWW aggregate (and, off the
        bucketed table, run exchange-free)."""
        cfdef: CFDef = self.catalog.keyspace(ks).cf(cf_name)
        domain = cfdef.domain_split
        cell_schema = CELL_SCHEMA
        if domain:
            cell_schema = T.StructType(list(CELL_SCHEMA.fields) + [T.StructField("_dom", T.StringType(), True)])
        meta, cell_files, pend = self._sources(ks, cf_name)
        # what this bind reads (file names are unique). On any change since
        # this store's last bind, refresh as Spark's writer does a path it
        # wrote (a generation is written once, under a new name)
        pending = pend and (tuple(pend.cells), tuple(pend.container_tombstones))
        state = (meta and meta["gen"], sorted(cell_files), pending)
        if self._bound.get((ks, cf_name)) != state:
            self._bound[(ks, cf_name)] = state
            self.spark.catalog.refreshByPath(self._cells_dir(ks, cf_name))
        base = self._cf_dir(ks, cf_name)
        parts = []  # (frame, whether its files may hold MARKER cells)
        if meta is not None:
            gen = self._compacted_df(ks, cf_name, meta, cell_schema)
            parts.append((gen, _may_hold_markers(base, self._files(ks, cf_name, meta["path"]))))
        if cell_files:
            frame = self.spark.read.schema(cell_schema).parquet(self._cells_dir(ks, cf_name))
            parts.append((frame, _may_hold_markers(base, cell_files)))
        if pend is not None and pend.cells:
            frame = self.spark.createDataFrame(pend.cells, CELL_SCHEMA)
            if domain:
                frame = frame.withColumn("_dom", OdklDomainPartitioner().domain(F.col("key")))
            parts.append((frame, False))
        # container tombstones: bind None (not an empty frame) when no source
        # may hold a row/sc delete, so the read path skips the watermark
        # joins and the marker filter: a CF with no container deletes pays
        # nothing for the feature
        cell_parts, tomb_parts = [], []
        for frame, marked in parts:
            if marked:
                is_marker = F.col("column") == F.lit(MARKER)
                tomb_parts.append(frame.where(is_marker).select(*CONTAINER_TOMBSTONE_SCHEMA.fieldNames()))
                frame = frame.where(~is_marker)
            cell_parts.append(frame)
        if pend is not None and pend.container_tombstones:
            tomb_parts.append(self.spark.createDataFrame(pend.container_tombstones, CONTAINER_TOMBSTONE_SCHEMA))
        if not cell_parts:
            cell_parts.append(self.spark.createDataFrame([], cell_schema))
        return CF(
            cfdef=cfdef,
            cells=functools.reduce(DataFrame.unionByName, cell_parts),
            container_tombstones=functools.reduce(DataFrame.unionByName, tomb_parts) if tomb_parts else None,
            partitioner=self.partitioner,
            keyspace=ks,
            domain_col="_dom" if domain else None,
            pre_reconciled=meta is not None and len(parts) == 1,
        )
