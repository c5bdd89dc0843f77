"""Client-facing read operators (SURVEY.md §2.1) as DataFrame expressions.

Every operator follows the same scale-aware shape:

1. **Push predicates below the reconcile.** Filters on (key, sc, column)
   select whole reconcile groups, so they commute with the LWW merge — we
   filter the raw multi-version cells first, which Catalyst pushes into the
   Parquet scan (partition pruning + row-group stats + bloom). At 100 TB a
   point read touches one partition, not the table.
2. Reconcile only the surviving cells (``functions/reconcile.py``).
3. Apply order/limit semantics that do NOT commute with the merge (live
   count limits, reversed slices) *after* reconciling, exactly like the
   reference applies ``SliceQueryFilter.collectReducedColumns``
   (``db/filter/SliceQueryFilter.java:104-141``) after the collated merge.

Result frames use the live-cell schema ``(key, sc, column, value, ts)``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apache_cassandra_spark.catalog import CFDef
from apache_cassandra_spark.functions.comparators import AbstractComparator, and_all
from apache_cassandra_spark.functions.reconcile import live_view
from apache_cassandra_spark.functions.tokens import token_window
from apache_cassandra_spark.model import CF, ColumnPath, KeyRange, SlicePredicate, SliceRange

RESULT_COLS = ["key", "sc", "column", "value", "ts"]


# ---------------------------------------------------------------------------
# shared slice machinery
# ---------------------------------------------------------------------------


def _level(cfdef: CFDef, super_column: bytes | None) -> tuple[str, AbstractComparator]:
    """Which name column the predicate addresses, and its comparator.

    Standard CF -> ("column", comparator). Super CF with a super_column
    coordinate -> subcolumns of that sc ("column", subcomparator). Super CF
    addressed at the parent -> supercolumn names ("sc", comparator), the
    semantics of ``SliceQueryFilter.filterSuperColumn``
    (``db/filter/SliceQueryFilter.java:66-96``).
    """
    if cfdef.is_super and super_column is None:
        return "sc", cfdef.comparator
    if cfdef.is_super:
        return "column", cfdef.subcomparator
    return "column", cfdef.comparator


def _slice_cell_preds(
    target: Column,
    comparator: AbstractComparator,
    predicate: SlicePredicate,
) -> list[Column]:
    """Cell-level predicates implied by the slice — safe to apply *below*
    the reconcile (they select whole (key, sc, column) groups)."""
    preds: list[Column] = []
    if predicate.column_names is not None:
        preds.append(target.isin([bytearray(n) for n in predicate.column_names]))
    else:
        sr = predicate.slice_range
        lo, hi = (sr.finish, sr.start) if sr.reversed else (sr.start, sr.finish)
        if lo != b"":
            preds.append(comparator.ge(target, F.lit(lo)))
        if hi != b"":
            preds.append(comparator.le(target, F.lit(hi)))
    return preds


def _apply_count(
    live: DataFrame,
    cf: CF,
    super_column: bytes | None,
    sr: SliceRange,
) -> DataFrame:
    """Keep the first ``count`` *live* entries per row in comparator order
    (reversed -> descending), mirroring ``collectReducedColumns``.

    At the supercolumn level the unit counted is the supercolumn (all its
    subcolumns flow through) — hence dense_rank on the sc sort key.
    """
    target, comparator = _level(cf.cfdef, super_column)
    order = comparator.order_exprs(F.col(target), reverse=sr.reversed)
    if cf.is_super and super_column is None:
        # rank whole supercolumns: order by sc only, so every subcolumn of
        # the same sc shares one dense rank
        w = Window.partitionBy("key").orderBy(*order)
        ranked = live.withColumn("_rk", F.dense_rank().over(w))
    else:
        part = ["key", "sc"] if cf.is_super else ["key"]
        w = Window.partitionBy(*part).orderBy(*order)
        ranked = live.withColumn("_rk", F.row_number().over(w))
    return ranked.where(F.col("_rk") <= sr.count).drop("_rk")


# The Engine's key and range reads run on the driver (``CellStore.key_cells``,
# then ``reconcile.live_rows``); these functions slice the merged rows as
# ``_sliced`` and ``_apply_count`` do, ordering by each ``py_key``.

_ALL = SlicePredicate(slice_range=SliceRange(count=2**31 - 1))
_ROWS_ARROW = pa.schema([("key", pa.string()), *[(c, pa.binary()) for c in ("sc", "column", "value")], ("ts", pa.int64())])


def slice_rows(cfdef: CFDef, live: list[tuple], predicate: SlicePredicate, super_column: bytes | None) -> list[tuple]:
    """``get_slice`` / ``multiget_slice`` over ``live_rows`` output, as
    ``_sliced`` computes them: the name filter, key order then
    comparator order (descending when reversed; a supercolumn's subcolumns
    ascend), then the first ``count`` entries per key — whole supercolumns
    at the parent level."""
    target, comparator = _level(cfdef, super_column)
    at = 1 if target == "sc" else 2
    rows = [r for r in live if super_column is None or r[1] == super_column]
    sr = predicate.slice_range
    if sr is None:
        names = set(map(bytes, predicate.column_names))
        rows = [r for r in rows if r[at] in names]
    else:
        lo, hi = (sr.finish, sr.start) if sr.reversed else (sr.start, sr.finish)
        if lo:
            lo = comparator.py_key(lo)
            rows = [r for r in rows if not comparator.py_key(r[at]) < lo]
        if hi:
            hi = comparator.py_key(hi)
            rows = [r for r in rows if not hi < comparator.py_key(r[at])]
    if at == 1:
        rows.sort(key=lambda r: cfdef.subcomparator.py_key(r[2]))
    rows.sort(key=lambda r: comparator.py_key(r[at]), reverse=sr is not None and sr.reversed)
    rows.sort(key=lambda r: r[0])
    if sr is None:
        return rows
    out, units = [], {}
    for r in rows:
        seen = units.setdefault(r[0], set())
        unit = r[1] if at == 1 else r
        if unit in seen or len(seen) < sr.count:
            seen.add(unit)
            out.append(r)
    return out


def path_rows(cfdef: CFDef, live: list[tuple], path: ColumnPath, keys: list[str] | None = None) -> list[tuple]:
    """``get`` (no ``keys``) or ``multiget`` over ``live_rows`` output; a
    multiget gives one entry per distinct key, NULL column and value for a
    key with no hit."""
    if keys is None and path.column is None and path.super_column is None:
        raise ValueError("get() needs a column or super_column coordinate")
    pred = _ALL if path.column is None else SlicePredicate(column_names=(path.column,))
    rows = slice_rows(cfdef, live, pred, path.super_column)
    if keys is None:
        return rows
    missing = set(keys) - {r[0] for r in rows}
    return sorted(rows + [(k, None, None, None, None) for k in missing], key=lambda r: r[0])


def count_rows(cfdef: CFDef, live: list[tuple], super_column: bytes | None) -> int:
    """``get_count`` over ``live_rows`` output."""
    at = 1 if _level(cfdef, super_column)[0] == "sc" else 2
    return len({r[at] for r in slice_rows(cfdef, live, _ALL, super_column)})


def range_rows(
    cfdef: CFDef,
    live: list[tuple],
    keys: list[str],
    predicate: SlicePredicate,
    super_column: bytes | None,
    include_empty_rows: bool,
) -> list[tuple]:
    """``get_range_slices`` over ``live_rows`` output of the candidate
    ``keys`` (``CellStore.range_keys``, in ring order): ``slice_rows`` per
    key, rows in ring order, then comparator order. A key with no live hit
    is one NULL-column row with ``include_empty_rows``; without it the key
    is absent, though it used one of the range's ``count`` slots."""
    rows = slice_rows(cfdef, live, predicate, super_column)
    if include_empty_rows:
        rows += [(k, None, None, None, None) for k in set(keys) - {r[0] for r in rows}]
    ring = {k: i for i, k in enumerate(keys)}
    return sorted(rows, key=lambda r: ring[r[0]])


def rows_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """``rows`` as a DataFrame of ``RESULT_COLS`` with the Spark path's
    all-nullable schema: a driver-built LocalRelation, whose collect runs
    no Spark job."""
    cols = list(zip(*rows)) or [()] * len(RESULT_COLS)
    return spark.createDataFrame(pa.table([pa.array(c, f.type) for c, f in zip(cols, _ROWS_ARROW)], schema=_ROWS_ARROW))


def _domain_pred(cf: CF, keys: list[str]) -> Column | None:
    """Partition filter for domain-split CFs: literal keys -> their domains
    (fork ``OdklDomainPartitioner``). This is what turns a point read on a
    256-way domain-partitioned table into a 1/256 partition-pruned scan."""
    if cf.domain_col is None:
        return None
    from apache_cassandra_spark.functions.tokens import OdklDomainPartitioner

    doms = sorted({OdklDomainPartitioner().domain_of(k) for k in keys})
    return F.col(cf.domain_col).isin(doms)


def _filtered_live(
    cf: CF, key_pred: Column | None, extra_preds: list[Column], keys: list[str] | None = None
) -> DataFrame:
    cells = cf.cells
    tombs = cf.container_tombstones
    if keys is not None:
        dom = _domain_pred(cf, keys)
        if dom is not None:
            cells = cells.where(dom)  # cells only: tombstones aren't partitioned
    if key_pred is not None:
        cells = cells.where(key_pred)
        if tombs is not None:
            tombs = tombs.where(key_pred)
    if extra_preds:
        cells = cells.where(and_all(extra_preds))
    return live_view(
        cells, tombs, with_sc_level=cf.is_super, pre_reconciled=cf.pre_reconciled
    )


def _sliced(
    cf: CF,
    key_pred: Column | None,
    predicate: SlicePredicate,
    super_column: bytes | None,
    keys: list[str] | None = None,
) -> DataFrame:
    target, comparator = _level(cf.cfdef, super_column)
    preds = _slice_cell_preds(F.col(target), comparator, predicate)
    if cf.is_super and super_column is not None:
        preds.append(F.col("sc") == F.lit(bytearray(super_column)))
    live = _filtered_live(cf, key_pred, preds, keys=keys)
    if predicate.slice_range is not None:
        live = _apply_count(live, cf, super_column, predicate.slice_range)
    return live.select(*RESULT_COLS)


# ---------------------------------------------------------------------------
# Thrift surface
# ---------------------------------------------------------------------------


def get(cf: CF, key: str, path: ColumnPath) -> DataFrame:
    """R1 ``get`` — point lookup of one column / supercolumn
    (``thrift/CassandraServer.java:259-273``). Empty result == the
    reference's NotFoundException."""
    if path.column is not None:
        pred = SlicePredicate(column_names=(path.column,))
        return _sliced(cf, F.col("key") == key, pred, path.super_column, keys=[key])
    if path.super_column is not None:
        # whole supercolumn: all live subcolumns under it
        live = _filtered_live(
            cf, F.col("key") == key, [F.col("sc") == F.lit(bytearray(path.super_column))], keys=[key]
        )
        return live.select(*RESULT_COLS)
    raise ValueError("get() needs a column or super_column coordinate")


def get_slice(
    cf: CF, key: str, predicate: SlicePredicate, super_column: bytes | None = None
) -> DataFrame:
    """R2 ``get_slice`` (``thrift/CassandraServer.java:209-218``)."""
    return _sliced(cf, F.col("key") == key, predicate, super_column, keys=[key])


def multiget_slice(
    cf: CF, keys: list[str], predicate: SlicePredicate, super_column: bytes | None = None
) -> DataFrame:
    """R4 ``multiget_slice`` — R2 fanned over N keys, count applied per key
    (``thrift/CassandraServer.java:220-257``)."""
    return _sliced(cf, F.col("key").isin(list(keys)), predicate, super_column, keys=list(keys))


def multiget(cf: CF, keys: list[str], path: ColumnPath) -> DataFrame:
    """R3 ``multiget`` (deprecated in the reference) — R1 fanned over N
    keys; the reference returns a map with an entry per key
    (``CassandraServer.java:276-319``), so each distinct key appears once,
    absent keys with NULL column/value (left join against the key list)."""
    spark = cf.cells.sparkSession
    want = spark.createDataFrame([(k,) for k in dict.fromkeys(keys)], "key string")
    if path.column is not None:
        pred = SlicePredicate(column_names=(path.column,))
        hits = _sliced(cf, F.col("key").isin(list(keys)), pred, path.super_column, keys=list(keys))
    else:
        hits = _filtered_live(
            cf,
            F.col("key").isin(list(keys)),
            [F.col("sc") == F.lit(bytearray(path.super_column))] if path.super_column else [],
            keys=list(keys),
        ).select(*RESULT_COLS)
    return want.join(hits, "key", "left")


class ReadLimitExceeded(Exception):
    """Fork read-width circuit breaker tripped
    (``db/filter/SliceQueryFilter.java:116-118``)."""


def check_read_limit(df: DataFrame, hard_limit: int) -> DataFrame:
    """Enforce the fork's per-read column hard limit: raises when the slice
    would return more than ``hard_limit`` cells. The reference kills the
    read server-side; here the guard is a bounded probe — a count over a
    ``limit(hard_limit+1)`` subquery, so only a scalar reaches the driver
    and the job short-circuits after limit+1 rows."""
    if df.limit(hard_limit + 1).count() > hard_limit:
        raise ReadLimitExceeded(f"read would exceed {hard_limit} columns")
    return df


def get_count(cf: CF, key: str, super_column: bytes | None = None) -> DataFrame:
    """R5 ``get_count`` — live entries of one row; literally
    ``get_slice(unbounded).size()`` in the reference
    (``thrift/CassandraServer.java:321-332``). Counts supercolumns when a
    Super CF is addressed at the parent."""
    live = _sliced(
        cf,
        F.col("key") == key,
        SlicePredicate(slice_range=SliceRange(count=2**31 - 1)),
        super_column,
        keys=[key],
    )
    unit = "sc" if (cf.is_super and super_column is None) else "column"
    return live.agg(F.count_distinct(F.col(unit)).alias("count"))


def get_range_slice(
    cf: CF,
    predicate: SlicePredicate,
    start_key: str,
    finish_key: str,
    row_count: int,
    super_column: bytes | None = None,
) -> DataFrame:
    """R6 ``get_range_slice`` (deprecated) — the pre-0.6 key-addressed
    signature (``cassandra.thrift:352-359``). The reference forwards it to
    the R7 path with a key-bounded KeyRange
    (``thrift/CassandraServer.java:542-550``); so do we."""
    return get_range_slices(
        cf,
        predicate,
        KeyRange(start_key=start_key, end_key=finish_key or None, count=row_count),
        super_column=super_column,
    )


def get_range_slices(
    cf: CF,
    predicate: SlicePredicate,
    key_range: KeyRange,
    super_column: bytes | None = None,
    include_empty_rows: bool = False,
) -> DataFrame:
    """R7 ``get_range_slices`` — paged scan in token order
    (``thrift/CassandraServer.java:552-607``, ``StorageProxy.java:805-864``).

    Semantics matched to the reference's golden tests
    (``test_server.py:882-957``):

    * the window is ``tokens.token_window``'s: key-addressed bounds
      inclusive; token-addressed start-exclusive
      (``cassandra.thrift:233-239``); equal start/end token == full ring.
    * wrap-around ranges return rows in RING order from the start token
      (tokens > start first, then the wrapped tail) — the ``count`` cap
      consumes rows in that order.
    * row membership is decided by raw row existence, not by the column
      predicate: a row with zero matching live columns still occupies a
      ``count`` slot ("range ghosts", reference behavior until compaction
      purges the row). With ``include_empty_rows=True`` such rows appear
      as a single marker row with NULL column/value (Thrift's empty
      KeySlice has no natural flat-DataFrame shape); with the default
      False they are simply absent from the output — but still counted.

    Scale shape: distinct candidate keys come from the RAW cells (pushdown
    filter + groupBy on key only, before any reconcile), top-``count`` by
    ring position runs as a parallel partial top-N, and only the surviving
    rows' cells are reconciled.
    """
    token = cf.partitioner.token(F.col("key"))
    window = token_window(cf.partitioner, key_range)
    key_pred = window.contains(token)

    # candidate rows: raw existence in range (reference: getKeyRange over
    # memtable+sstable keys, db/ColumnFamilyStore.java:1125-1239). A row
    # whose only remaining trace is a container tombstone still exists as a
    # range ghost until gcBefore (the reference keeps the key visible via
    # the row's deletion marker), so tombstone keys join the candidate set.
    raw = cf.cells if key_pred is None else cf.cells.where(key_pred)
    raw_keys = raw.select("key")
    if cf.container_tombstones is not None:
        tomb_keys = cf.container_tombstones
        if key_pred is not None:
            tomb_keys = tomb_keys.where(key_pred)
        raw_keys = raw_keys.unionByName(tomb_keys.select("key"))
    wrapped = window.past_wrap(F.col("_t"))
    ring_pos = [] if wrapped is None else [wrapped]
    keys = (
        raw_keys.select(F.col("key"), token.alias("_t"))
        .groupBy("key")
        .agg(F.min("_t").alias("_t"))
        .orderBy(*ring_pos, F.col("_t"), F.col("key"))
        .limit(key_range.count)
        .select("key")
    )

    target, comparator = _level(cf.cfdef, super_column)
    cell_preds = _slice_cell_preds(F.col(target), comparator, predicate)
    if cf.is_super and super_column is not None:
        cell_preds.append(F.col("sc") == F.lit(bytearray(super_column)))
    live = _filtered_live(cf, key_pred, cell_preds)
    live = live.join(F.broadcast(keys), "key", "inner")
    if predicate.slice_range is not None:
        live = _apply_count(live, cf, super_column, predicate.slice_range)
    out = live.select(*RESULT_COLS)
    if include_empty_rows:
        empties = keys.join(out.select("key").distinct(), "key", "left_anti")
        out = out.unionByName(
            empties.select(
                "key",
                F.lit(None).cast("binary").alias("sc"),
                F.lit(None).cast("binary").alias("column"),
                F.lit(None).cast("binary").alias("value"),
                F.lit(None).cast("long").alias("ts"),
            )
        )
    return out


def _ntile_boundaries(sorted_vals: list[str], splits: int) -> list[str]:
    """Last element of each ntile(splits) tile over an ascending list —
    identical arithmetic to SQL ntile (first ``m % splits`` tiles get the
    extra element); empty tiles (splits > m) produce no boundary."""
    m = len(sorted_vals)
    q, r = divmod(m, splits)
    out: list[str] = []
    acc = 0
    for i in range(splits):
        size = q + (1 if i < r else 0)
        if size == 0:
            continue
        acc += size
        out.append(sorted_vals[acc - 1])
    return out


def describe_splits(
    cf: CF, keys_per_split: int, key_pred: Column | None = None, exact_threshold: int = 100_000
) -> list[str]:
    """R8 ``describe_splits`` — ~equal token sub-ranges for parallel scans
    (``CassandraServer.java:644-654``; the reference samples its index
    summary, ``io/SSTableReader.java:265-270``).

    Scale shape: distinct tokens are computed with a distributed
    hash-aggregate; when their count exceeds ``exact_threshold`` the token
    stream is thinned by a *deterministic* content-hash sample (the
    IndexSummary analog — keep ~1/rate of tokens chosen by an md5 prefix),
    so at most ~``exact_threshold`` tokens are range-sorted (parallel
    exchange, never a single-task window) and collected. Boundary picking
    is O(splits) driver arithmetic. Below the threshold the result is the
    exact ntile split of all tokens."""
    token = cf.partitioner.token(F.col("key"))
    cells = cf.cells if key_pred is None else cf.cells.where(key_pred)
    toks = cells.select(token.alias("t")).distinct()
    n = toks.count()
    if n == 0:
        return []
    splits = max(1, n // max(1, keys_per_split))
    sampled = n > exact_threshold
    sample = toks
    if sampled:
        rate = -(-n // exact_threshold)  # ceil: keep ~exact_threshold tokens
        cut = 65535 // rate
        sample = toks.where(F.conv(F.substring(F.md5("t"), 1, 4), 16, 10).cast("int") <= cut)
    vals = [r["t"] for r in sample.orderBy("t").collect()]
    bounds = _ntile_boundaries(vals, splits)
    if sampled and bounds:
        # the last boundary must cover the range end, which sampling may miss
        true_max = toks.agg(F.max("t")).collect()[0][0]
        if bounds[-1] < true_max:
            bounds[-1] = true_max
    return bounds


def join_cf(left, right, how: str = "inner") -> DataFrame:
    """Cross-CF row join on ``(key[, sc], column)`` over the live views —
    the Spark-native answer to multi-CF reads, which the reference could
    only fan out client-side (one Thrift call per CF, merge in the app;
    ``thrift/CassandraServer.java`` has no join of any kind).

    Co-location: when both CFs are post-compaction bucketed tables with
    the SAME bucket count, each scan reports ``HashPartitioning(key)``,
    which satisfies the join's clustered distribution on (key, column)
    (same key ⇒ same bucket on both sides) — the join runs with NO
    shuffle exchange; at 100 TB that is the difference between a metadata
    operation and re-shuffling two tables. test_plans locks the
    exchange-free shape. With deltas present the sides reconcile first
    and shuffle as usual — correctness never depends on layout.

    Super CFs join on (key, sc, column); mixing a super and a standard CF
    is rejected (their coordinate systems differ)."""
    if left.is_super != right.is_super:
        raise ValueError("cannot join a super CF with a standard CF")
    keys = ["key", "sc", "column"] if left.is_super else ["key", "column"]
    a = left.live().select(
        *keys, F.col("value").alias("value_a"), F.col("ts").alias("ts_a")
    )
    b = right.live().select(
        *keys, F.col("value").alias("value_b"), F.col("ts").alias("ts_b")
    )
    return a.join(b, keys, how)
