"""Query-surface value types (the Thrift structs, Python-side) and the CF
handle that all operators act on.

Thrift shapes being mirrored (``interface/cassandra.thrift``):
``SliceRange`` (:208-213), ``SlicePredicate`` (:223-226), ``ColumnPath``
(:183-190), ``Mutation`` / ``Deletion`` (:260-274), ``KeyRange`` (:233-246).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from apache_cassandra_spark.catalog import CFDef
from apache_cassandra_spark.functions.tokens import Partitioner, RandomPartitioner


@dataclass(frozen=True)
class SliceRange:
    """Contiguous column-name range in comparator order; empty bytes =
    unbounded (``cassandra.thrift:208-213``)."""

    start: bytes = b""
    finish: bytes = b""
    reversed: bool = False
    count: int = 100


@dataclass(frozen=True)
class SlicePredicate:
    """Either an explicit name set or a SliceRange (``cassandra.thrift:223-226``)."""

    column_names: tuple[bytes, ...] | None = None
    slice_range: SliceRange | None = None

    def __post_init__(self):
        if (self.column_names is None) == (self.slice_range is None):
            raise ValueError("SlicePredicate: exactly one of column_names / slice_range")


@dataclass(frozen=True)
class ColumnPath:
    """(cf, super_column?, column?) coordinate (``cassandra.thrift:183-190``,
    internal analog ``db/filter/QueryPath.java``)."""

    column_family: str
    super_column: bytes | None = None
    column: bytes | None = None


@dataclass(frozen=True)
class ColumnParent:
    column_family: str
    super_column: bytes | None = None


@dataclass(frozen=True)
class Deletion:
    """Delete by names under a (optional) supercolumn, or the whole container
    when predicate is None (``cassandra.thrift:260-265``)."""

    timestamp: int
    super_column: bytes | None = None
    predicate: SlicePredicate | None = None


@dataclass(frozen=True)
class Mutation:
    """insert-or-delete union (``cassandra.thrift:268-274``); exactly one of
    (column_name, value) / deletion set."""

    column_name: bytes | None = None
    value: bytes | None = None
    timestamp: int | None = None
    super_column: bytes | None = None
    deletion: Deletion | None = None


@dataclass(frozen=True)
class KeyRange:
    """Row-range addressing for scans (``cassandra.thrift:233-246``):
    key-addressed (inclusive both ends) or token-addressed (start-exclusive,
    wrap-around allowed)."""

    start_key: str | None = None
    end_key: str | None = None
    start_token: str | None = None
    end_token: str | None = None
    count: int = 100


@dataclass
class CF:
    """A column family bound to its data: the engine's central handle.

    ``cells`` is the union of all base + delta cell files (multi-version,
    unreconciled); ``container_tombstones`` the row/sc-level deletes.
    Operators in ``operators/read.py`` build reconciled expressions over it.
    """

    cfdef: CFDef
    cells: DataFrame
    container_tombstones: DataFrame | None = None
    partitioner: Partitioner = field(default_factory=RandomPartitioner)
    keyspace: str = ""
    #: set when the backing table is physically partitioned by key domain
    #: (fork domain-split CFs): read operators derive partition filters
    #: from literal keys so point reads prune to 1/256 of the data
    domain_col: str | None = None
    #: True when ``cells`` is solely the compacted bucketed table (no delta
    #: files, no pending memtable): one version per coordinate already, so
    #: the read path skips the LWW aggregate and inherits the bucketed
    #: scan's HashPartitioning(key) — exchange-free reads
    pre_reconciled: bool = False

    @property
    def is_super(self) -> bool:
        return self.cfdef.is_super

    def live(self) -> DataFrame:
        from apache_cassandra_spark.functions.reconcile import live_view

        return live_view(
            self.cells,
            self.container_tombstones,
            with_sc_level=self.is_super,
            pre_reconciled=self.pre_reconciled,
        )

    def scan(self) -> DataFrame:
        """The bulk-analytics handoff (replaces the reference's Hadoop/Pig
        adapters, ``hadoop/ColumnFamilyInputFormat.java``): the reconciled
        live view as a plain DataFrame for arbitrary Spark SQL."""
        return self.live()

    def cached_rows(self) -> DataFrame:
        """Row-cache analog (``db/ColumnFamilyStore.java:975-986``,
        ``cache/InstrumentedCache.java``): the reconciled live view pinned
        with MEMORY_AND_DISK so repeated point reads skip the merge. The
        caller owns the lifetime (``.unpersist()``); the store primes no
        cache of its own, and Engine key reads run on the driver without
        one. The frame stays current across writes: a fresh ``store.cf()``
        bind that finds the CF changed refreshes every cached plan over
        its delta directories, so a held frame re-reads current storage
        when next used."""
        from pyspark import StorageLevel

        return self.live().persist(StorageLevel.MEMORY_AND_DISK)
