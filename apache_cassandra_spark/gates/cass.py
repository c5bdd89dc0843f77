"""Engine-operator gates (SURVEY.md §2.1): the Thrift read surface over
CF-mapped TPC-H tables, the LWW write/read paths over the events stream,
comparator slices and the existence probes. The oracles unpivot the same
tables into cells with ``_unpivot_sql``, whose value encoding
(``_duck_canon``) is the DuckDB twin of ``sources/ingest._canon``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_cassandra_spark.catalog import CFDef
from apache_cassandra_spark.functions.tokens import OrderPreservingPartitioner, RandomPartitioner
from apache_cassandra_spark.gates.common import _events_norm, load_events, load_events_raw, load_table, scratch_dir
from apache_cassandra_spark.model import CF, KeyRange, SlicePredicate, SliceRange
from apache_cassandra_spark.operators import read as R
from apache_cassandra_spark.sources.ingest import cf_from_table


#: value columns per CF-mapped table, with dtypes for canonical encoding
TABLES: dict[str, dict] = {
    "orders": {
        "key": "o_orderkey",
        "cols": {
            "o_custkey": "bigint",
            "o_orderdate": "timestamp",
            "o_orderpriority": "varchar",
            "o_orderstatus": "varchar",
            "o_totalprice": "double",
        },
    },
    "part": {
        "key": "p_partkey",
        "cols": {
            "p_brand": "varchar",
            "p_name": "varchar",
            "p_retailprice": "double",
            "p_size": "int",
            "p_type": "varchar",
        },
    },
    "supplier": {
        "key": "s_suppkey",
        "cols": {"s_acctbal": "double", "s_name": "varchar", "s_nationkey": "int"},
    },
    "lineitem": {
        "key": "l_orderkey",
        "sc": "l_linenumber",
        "cols": {
            "l_discount": "double",
            "l_extendedprice": "double",
            "l_linestatus": "varchar",
            "l_partkey": "bigint",
            "l_quantity": "double",
            "l_returnflag": "varchar",
            "l_shipdate": "timestamp",
            "l_suppkey": "bigint",
            "l_tax": "double",
        },
    },
}


def _duck_canon(col: str, dt: str) -> str:
    """DuckDB twin of sources/ingest._canon — must stay in lockstep."""
    if dt in ("double", "float"):
        return f"cast(cast({col} as decimal(18,4)) as varchar)"
    if dt.startswith("timestamp"):
        return f"strftime({col}, '%Y-%m-%d %H:%M:%S')"
    return f"cast({col} as varchar)"


def _unpivot_sql(table: str, where: str = "1=1", cols: list[str] | None = None, with_sc: bool = False) -> str:
    """UNION-ALL unpivot of a table row-range into cell rows."""
    meta = TABLES[table]
    key, dtypes = meta["key"], meta["cols"]
    names = sorted(cols or dtypes)
    parts = []
    for c in names:
        sc_sel = f"cast({meta['sc']} as varchar) AS sc, " if with_sc else ""
        parts.append(
            f"SELECT cast({key} as varchar) AS key, {sc_sel}'{c}' AS \"column\", "
            f"{_duck_canon(c, dtypes[c])} AS value FROM {table} WHERE {where}"
        )
    return " UNION ALL ".join(parts)


def _cf(spark: SparkSession, sf_dir: str, table: str, order_preserving: bool = True) -> CF:
    meta = TABLES[table]
    part = OrderPreservingPartitioner() if order_preserving else RandomPartitioner()
    return cf_from_table(
        load_table(spark, sf_dir, table),
        key_col=meta["key"],
        value_cols=sorted(meta["cols"]),
        sc_col=meta.get("sc"),
        partitioner=part,
        cfdef=CFDef(
            name=table,
            column_type="Super" if "sc" in meta else "Standard",
            compare_with="UTF8Type",
            compare_subcolumns_with="UTF8Type",
        ),
    )


def _strings(df: DataFrame, with_sc: bool = False, with_ts: bool = False) -> DataFrame:
    cols = [F.col("key")]
    if with_sc:
        cols.append(F.col("sc").cast("string").alias("sc"))
    cols += [F.col("column").cast("string").alias("column"), F.col("value").cast("string").alias("value")]
    if with_ts:
        cols.append(F.col("ts"))
    return df.select(*cols)


def q_get_slice(spark, sf_dir):
    cf = _cf(spark, sf_dir, "orders")
    pred = SlicePredicate(slice_range=SliceRange(count=100))
    return _strings(R.get_slice(cf, "32", pred))


def q_get_slice_names(spark, sf_dir):
    cf = _cf(spark, sf_dir, "orders")
    pred = SlicePredicate(column_names=(b"o_orderstatus", b"o_totalprice"))
    return _strings(R.get_slice(cf, "32", pred))


def q_get_slice_reversed(spark, sf_dir):
    cf = _cf(spark, sf_dir, "orders")
    pred = SlicePredicate(slice_range=SliceRange(reversed=True, count=3))
    return _strings(R.get_slice(cf, "32", pred))


def q_get_slice_bounded(spark, sf_dir):
    cf = _cf(spark, sf_dir, "orders")
    pred = SlicePredicate(slice_range=SliceRange(start=b"o_orderdate", finish=b"o_orderstatus", count=100))
    return _strings(R.get_slice(cf, "32", pred))


def q_multiget_slice(spark, sf_dir):
    cf = _cf(spark, sf_dir, "orders")
    pred = SlicePredicate(slice_range=SliceRange(count=2))
    return _strings(R.multiget_slice(cf, ["1", "2", "3", "4", "5", "6", "7"], pred))


def q_range_slices_keys(spark, sf_dir):
    cf = _cf(spark, sf_dir, "part", order_preserving=True)
    pred = SlicePredicate(slice_range=SliceRange(count=2))
    kr = KeyRange(start_key="100", end_key="120", count=10)
    return _strings(R.get_range_slices(cf, pred, kr))


def q_range_slices_wrapped(spark, sf_dir):
    cf = _cf(spark, sf_dir, "supplier", order_preserving=False)
    pred = SlicePredicate(slice_range=SliceRange(count=1))
    kr = KeyRange(start_token="e8", end_token="18", count=1000)
    return _strings(R.get_range_slices(cf, pred, kr))


def q_super_slice(spark, sf_dir):
    cf = _cf(spark, sf_dir, "lineitem")
    pred = SlicePredicate(slice_range=SliceRange(count=3))
    return _strings(R.get_slice(cf, "1", pred), with_sc=True)


def q_super_subcolumn_slice(spark, sf_dir):
    cf = _cf(spark, sf_dir, "lineitem")
    pred = SlicePredicate(slice_range=SliceRange(start=b"l_discount", finish=b"l_returnflag", count=4))
    return _strings(R.get_slice(cf, "1", pred, super_column=b"7"), with_sc=True)


def _event_cells(spark, sf_dir, ts_nanos_leq=None):
    """``ts_nanos_leq`` is the snapshot cutoff, applied to the RAW frame
    with a literal of the raw column's own type so it reaches the parquet
    scan as a pushed ``ts <= _`` filter (a post-normalization predicate on
    the ``unix_micros`` projection would not push)."""
    raw = load_events_raw(spark, sf_dir)
    if ts_nanos_leq is not None:
        if dict(raw.dtypes)["ts"].startswith("timestamp"):
            cutoff = F.timestamp_micros(F.lit(ts_nanos_leq // 1000)).cast(
                raw.schema["ts"].dataType
            )
        else:
            cutoff = F.lit(ts_nanos_leq)
        raw = raw.where(F.col("ts") <= cutoff)
    return _cells_of_events(_events_norm(raw))


def _cells_of_events(ev):
    """Normalized events as Standard-CF cells: row = user, column = event
    type, cell ts = the event's epoch-us."""
    return ev.select(
        F.col("user_id").cast("string").alias("key"),
        F.lit(None).cast("binary").alias("sc"),
        F.encode("event_type", "UTF-8").alias("column"),
        F.encode(F.col("value").cast("decimal(18,4)").cast("string"), "UTF-8").alias("value"),
        F.expr("ts div 1000").alias("ts"),
        F.lit(False).alias("tombstone"),
        F.lit(None).cast("int").alias("ldt"),
    )


def q_lww_events(spark, sf_dir):
    """LWW reconcile over a real multi-version stream: latest event per
    (user, event_type), Column.comparePriority tie-breaks."""
    cf = CF(cfdef=CFDef(name="events", compare_with="UTF8Type"), cells=_event_cells(spark, sf_dir))
    return _strings(cf.live(), with_ts=True)


#: snapshot cutoff for cass_read_at_ts — 2024-01-16T00:00Z in epoch-us,
#: mid-stream at every sf of the events fixture
_SNAPSHOT_TS_US = 1_705_363_200_000_000


def q_read_at_ts(spark, sf_dir):
    """Snapshot (time-travel) read: the LWW view as of a fixed timestamp.
    Client-supplied timestamps make every historical state well-defined —
    the reference materializes exactly this on commitlog replay with
    ``recover(maxReplayTimestamp)`` (``db/commitlog/CommitLog.java:173``);
    here it is one cell-level predicate ``ts <= T`` *below* the reconcile
    aggregate, so it pushes to the Parquet scan and the snapshot read
    costs less than the full-history read, not more."""
    cells = _event_cells(spark, sf_dir, ts_nanos_leq=_SNAPSHOT_TS_US * 1000)
    cf = CF(cfdef=CFDef(name="events", compare_with="UTF8Type"), cells=cells)
    return _strings(cf.live(), with_ts=True)


def q_lww_row_tombstones(spark, sf_dir):
    """Container-tombstone shadowing: each user's 'error' events mark the
    row deleted at that ts; only strictly-newer cells survive."""
    ev = load_events(spark, sf_dir)
    cells = _cells_of_events(ev.where(F.col("event_type") != "error"))
    tombs = (
        ev.where(F.col("event_type") == "error")
        .groupBy(F.col("user_id").cast("string").alias("key"))
        .agg(F.expr("max(ts div 1000)").alias("ts"))
        .select(
            "key",
            F.lit(None).cast("binary").alias("sc"),
            F.col("ts").cast("long").alias("ts"),
            F.lit(0).cast("int").alias("ldt"),
        )
    )
    cf = CF(cfdef=CFDef(name="events", compare_with="UTF8Type"), cells=cells, container_tombstones=tombs)
    return _strings(cf.live(), with_ts=True)


def q_super_get_count(spark, sf_dir):
    """R5 on a Super CF parent: counts supercolumns (linenumbers)."""
    cf = _cf(spark, sf_dir, "lineitem")
    return R.get_count(cf, "1")


def q_long_comparator_slice(spark, sf_dir):
    """LongType comparator in the gate: column names are 8-byte big-endian
    event ids; a reversed count-3 slice must pick the numerically-largest
    ids per user (byte-order-only sorting would get this wrong for mixed
    digit counts)."""
    ev = load_events(spark, sf_dir).where(F.col("user_id") < 3)
    cells = ev.select(
        F.col("user_id").cast("string").alias("key"),
        F.lit(None).cast("binary").alias("sc"),
        F.unhex(F.lpad(F.hex(F.col("event_id")), 16, "0")).alias("column"),
        F.encode("event_type", "UTF-8").alias("value"),
        F.lit(0).cast("long").alias("ts"),
        F.lit(False).alias("tombstone"),
        F.lit(None).cast("int").alias("ldt"),
    )
    cf = CF(cfdef=CFDef(name="ev_long", compare_with="LongType"), cells=cells)
    pred = SlicePredicate(slice_range=SliceRange(reversed=True, count=3))
    out = R.multiget_slice(cf, ["0", "1", "2"], pred)
    return out.select(
        "key",
        F.conv(F.hex("column"), 16, 10).cast("bigint").alias("event_id"),
        F.col("value").cast("string").alias("value"),
    )


def q_timeuuid_comparator_slice(spark, sf_dir):
    """TimeUUIDType comparator in the gate: column names are deterministic
    v1 UUIDs built from (event µs timestamp, event_id) — a reversed count-3
    slice must return the newest-by-embedded-timestamp per user. Raw-byte
    sorting (time_low first) would order completely differently, so this
    pins the nibble-reassembly logic."""
    ev = load_events(spark, sf_dir).where(F.col("user_id") < 3)
    us = F.expr("ts div 1000")
    h = lambda c, n: F.lpad(F.hex(c), n, "0")  # noqa: E731
    uuid_hex = F.concat(
        h(us.bitwiseAND(F.lit(0xFFFFFFFF)), 8),  # time_low
        h(F.expr("(ts div 1000) >> 32").bitwiseAND(F.lit(0xFFFF)), 4),  # time_mid
        F.lit("1"),
        h(F.expr("(ts div 1000) >> 48").bitwiseAND(F.lit(0xFFF)), 3),  # version+time_hi
        # event_id split high-bits-first across (clock_seq, node) so the
        # engine's raw-byte tiebreak for equal 60-bit timestamps == numeric
        # event_id order (keeps the gate robust if two events of one user
        # share a microsecond timestamp)
        h(F.expr("event_id >> 48").bitwiseAND(F.lit(0xFFFF)), 4),  # clock seq = high 16 bits
        h(F.col("event_id").bitwiseAND(F.lit(0xFFFFFFFFFFFF)), 12),  # node = low 48 bits
    )
    cells = ev.select(
        F.col("user_id").cast("string").alias("key"),
        F.lit(None).cast("binary").alias("sc"),
        F.unhex(uuid_hex).alias("column"),
        F.encode("event_type", "UTF-8").alias("value"),
        F.lit(0).cast("long").alias("ts"),
        F.lit(False).alias("tombstone"),
        F.lit(None).cast("int").alias("ldt"),
    )
    cf = CF(cfdef=CFDef(name="ev_uuid", compare_with="TimeUUIDType"), cells=cells)
    pred = SlicePredicate(slice_range=SliceRange(reversed=True, count=3))
    out = R.multiget_slice(cf, ["0", "1", "2"], pred)
    hx = F.hex(F.col("column"))
    ts_hex = F.concat(F.substring(hx, 14, 3), F.substring(hx, 9, 4), F.substring(hx, 1, 8))
    return out.select(
        "key",
        F.conv(ts_hex, 16, 10).cast("bigint").alias("event_us"),
        # unsigned 64-bit decode: assumes event_id < 2^63 (holds for the
        # driver testdata generator's sequential ids; ids >= 2^63 would
        # need functions.comparators._signed64 — same latent bound as the
        # >>48 arithmetic shift in the uuid construction above)
        F.conv(F.substring(hx, 17, 16), 16, 10).cast("bigint").alias("event_id"),
        F.col("value").cast("string").alias("value"),
    )


def q_rows_may_exist(spark, sf_dir):
    """Fork existence probe (FastRowMayExistQueryFilter): one-sided
    may-exist check; our realization is exact, a valid tightening."""
    from apache_cassandra_spark.operators import exists

    cf = _cf(spark, sf_dir, "supplier")
    return exists.rows_may_exist(cf, [str(k) for k in range(95, 106)])


def q_columns_may_exist(spark, sf_dir):
    """Fork existence probe (ColumnsMayExistQueryFilter,
    ``db/filter/ColumnsMayExistQueryFilter.java:28-156``): per-column
    may-exist for one row, raw-cell probe (no reconcile). The contract is
    one-sided — false positives allowed, never false negatives; our
    realization is exact, a valid tightening, so the exact oracle holds."""
    from apache_cassandra_spark.operators import exists

    cf = _cf(spark, sf_dir, "orders")
    probes = [b"o_custkey", b"o_totalprice", b"no_such_col", b"o_orderstatus"]
    out = exists.columns_may_exist(cf, "32", probes)
    return out.select(F.col("column").cast("string").alias("name"), "may_exist")


def q_describe_splits(spark, sf_dir):
    """R8 describe_splits: ~equal token sub-ranges over supplier keys."""
    cf = _cf(spark, sf_dir, "supplier", order_preserving=False)
    bounds = R.describe_splits(cf, keys_per_split=25)
    return spark.createDataFrame([(i, b) for i, b in enumerate(bounds)], "split_id int, end_token string")


def q_cf_join(spark, sf_dir):
    """Cross-CF co-located join: two CFs written through the real write
    path (LWW overwrites included), compacted to same-bucket-count
    tables, joined on (key, column) via `read.join_cf` — exchange-free
    post-compaction (plan-locked in test_plans); the oracle replays the
    mutation logs and the join in SQL."""

    from apache_cassandra_spark.catalog import Catalog
    from apache_cassandra_spark.engine import Engine
    from apache_cassandra_spark.model import ColumnPath
    from apache_cassandra_spark.operators import maintenance
    from apache_cassandra_spark.operators import read as R2

    ks = "Gate"
    root = scratch_dir("cfjoin_gate_")
    eng = Engine(
        spark, root,
        Catalog.from_dict({ks: {"JA": {"compare_with": "UTF8Type"},
                                "JB": {"compare_with": "UTF8Type"}}}),
    )
    # CF JA: profile-ish cells, with one LWW overwrite and one JA-only row
    for k in range(8):
        eng.insert(ks, f"u{k}", ColumnPath("JA", column=b"name"), f"n{k}".encode(), 100)
        eng.insert(ks, f"u{k}", ColumnPath("JA", column=b"age"), str(20 + k).encode(), 100)
    eng.insert(ks, "u3", ColumnPath("JA", column=b"name"), b"renamed", 200)
    eng.insert(ks, "only_a", ColumnPath("JA", column=b"name"), b"solo", 100)
    # CF JB: overlapping keys, same 'name' coordinate + a JB-only column
    for k in range(5):
        eng.insert(ks, f"u{k}", ColumnPath("JB", column=b"name"), f"m{k}".encode(), 100)
        eng.insert(ks, f"u{k}", ColumnPath("JB", column=b"city"), f"c{k}".encode(), 100)
    maintenance.compact(eng.store, ks, "JA", buckets=4)
    maintenance.compact(eng.store, ks, "JB", buckets=4)
    out = R2.join_cf(eng.cf(ks, "JA"), eng.cf(ks, "JB"))
    return out.select(
        "key",
        F.col("column").cast("string").alias("column"),
        F.col("value_a").cast("string").alias("value_a"),
        "ts_a",
        F.col("value_b").cast("string").alias("value_b"),
        "ts_b",
    )


def q_lexicaluuid_comparator_slice(spark, sf_dir):
    """LexicalUUIDType comparator in the gate: column names are 16-byte
    pseudo-UUIDs (md5 of the event id), ordered by *signed* msb then lsb
    longs (Java ``UUID.compareTo``; reference
    ``db/marshal/LexicalUUIDType.java:27-46``). A reversed count-3 slice
    per user pins the signed comparison: raw unsigned byte order would
    rank sign-bit-set UUIDs highest instead of lowest."""
    ev = load_events(spark, sf_dir).where(F.col("user_id") < 3)
    cells = ev.select(
        F.col("user_id").cast("string").alias("key"),
        F.lit(None).cast("binary").alias("sc"),
        F.unhex(F.md5(F.col("event_id").cast("string"))).alias("column"),
        F.encode("event_type", "UTF-8").alias("value"),
        F.lit(0).cast("long").alias("ts"),
        F.lit(False).alias("tombstone"),
        F.lit(None).cast("int").alias("ldt"),
    )
    cf = CF(cfdef=CFDef(name="ev_luuid", compare_with="LexicalUUIDType"), cells=cells)
    pred = SlicePredicate(slice_range=SliceRange(reversed=True, count=3))
    out = R.multiget_slice(cf, ["0", "1", "2"], pred)
    return out.select(
        "key",
        F.lower(F.hex("column")).alias("uu"),
        F.col("value").cast("string").alias("value"),
    )


def q_freshtimestamp_comparator_slice(spark, sf_dir):
    """FreshTimestampType (fork) comparator in the gate: reverse byte order
    with the empty name as the "freshest" sentinel (reference
    ``db/marshal/FreshTimestampType.java:22-41``). Column names are each
    user's event types plus one empty-name sentinel; a *forward* count-3
    slice must return the sentinel first, then names in DESCENDING byte
    order — exactly backwards from every other comparator."""
    ev = load_events(spark, sf_dir).where(F.col("user_id") < 3)
    per_type = ev.groupBy(
        F.col("user_id").cast("string").alias("key"),
        F.col("event_type").alias("name"),
    ).agg(F.count("*").cast("string").alias("v"))
    sentinel = per_type.select("key").distinct().select(
        "key", F.lit("").alias("name"), F.lit("fresh").alias("v")
    )
    cells = per_type.unionByName(sentinel).select(
        "key",
        F.lit(None).cast("binary").alias("sc"),
        F.encode("name", "UTF-8").alias("column"),
        F.encode("v", "UTF-8").alias("value"),
        F.lit(0).cast("long").alias("ts"),
        F.lit(False).alias("tombstone"),
        F.lit(None).cast("int").alias("ldt"),
    )
    cf = CF(cfdef=CFDef(name="ev_fresh", compare_with="FreshTimestampType"), cells=cells)
    pred = SlicePredicate(slice_range=SliceRange(count=3))
    out = R.multiget_slice(cf, ["0", "1", "2"], pred)
    return out.select(
        "key",
        F.col("column").cast("string").alias("name"),
        F.col("value").cast("string").alias("value"),
    )


def q_write_path(spark, sf_dir):
    """W1-W5 end-to-end: a deterministic mutation log through the real write
    path — Engine.insert/remove/batch_mutate (memtable + durable commits),
    bulk_load, then major compaction and a full-scan read of the live view.

    The log shapes mirror the reference's golden system tests
    (``test/system/test_server.py:335-371`` batch_mutate inserts+deletes,
    ``:653-820`` remove/resurrect cycles) and hit every comparePriority
    branch (``db/Column.java:196-210``): ts-win, live-live value tiebreak,
    live-tombstone tie, cell+row tombstones, resurrection past both.

    The returned DataFrame reads the *compacted bucketed table* — the gate
    therefore also pins the pre-reconciled exchange-free read regime.
    """

    from apache_cassandra_spark.catalog import Catalog
    from apache_cassandra_spark.engine import Engine
    from apache_cassandra_spark.model import ColumnPath, Deletion, Mutation
    from apache_cassandra_spark.operators import maintenance
    from apache_cassandra_spark.sources.cellstore import CELL_SCHEMA

    ks, cfn = "Gate", "WP"
    root = scratch_dir("write_gate_")  # left for the lazy read
    eng = Engine(spark, root, Catalog.from_dict({ks: {cfn: {"compare_with": "UTF8Type"}}}))
    cp = lambda c: ColumnPath(cfn, column=c)  # noqa: E731

    # W1 insert + LWW overwrite: higher ts wins
    eng.insert(ks, "w1", cp(b"ca"), b"v1", 100)
    eng.insert(ks, "w1", cp(b"ca"), b"v2", 200)
    # ts tie, live vs live -> larger value wins (memtable path: durable=False)
    eng.insert(ks, "w2", cp(b"ca"), b"a", 100, durable=False)
    eng.insert(ks, "w2", cp(b"ca"), b"b", 100, durable=False)
    # ts tie, live vs tombstone -> tombstone wins
    eng.insert(ks, "w3", cp(b"ca"), b"x", 300)
    eng.remove(ks, "w3", cp(b"ca"), 300)
    # W4 remove cell, then resurrect with a newer write
    eng.insert(ks, "w4", cp(b"ca"), b"x", 100)
    eng.remove(ks, "w4", cp(b"ca"), 200)
    eng.insert(ks, "w4", cp(b"ca"), b"y", 300)
    # W4 row-scope remove shadows both cells; one resurrects past it
    eng.insert(ks, "w5", cp(b"ca"), b"g", 100)
    eng.insert(ks, "w5", cp(b"cb"), b"h", 100)
    eng.remove(ks, "w5", ColumnPath(cfn), 150)
    eng.insert(ks, "w5", cp(b"cb"), b"z", 200)
    # row tombstone OLDER than the cell: cell survives
    eng.insert(ks, "w8", cp(b"ca"), b"m", 500)
    eng.remove(ks, "w8", ColumnPath(cfn), 400)
    # W2/W3 batch_mutate: three inserts + a Deletion-by-names, one atomic batch
    eng.batch_mutate(
        ks,
        {
            "w6": {
                cfn: [
                    Mutation(column_name=b"ca", value=b"p", timestamp=100),
                    Mutation(column_name=b"cb", value=b"q", timestamp=100),
                    Mutation(column_name=b"cc", value=b"r", timestamp=100),
                    Mutation(
                        deletion=Deletion(
                            timestamp=150,
                            predicate=SlicePredicate(column_names=(b"ca", b"cb")),
                        )
                    ),
                ]
            }
        },
    )
    # W5 bulk load, bypassing the memtable path
    bulk = spark.createDataFrame(
        [
            ("w7", None, b"ca", b"p7", 100, False, None),
            ("w7", None, b"cb", b"q7", 100, False, None),
        ],
        CELL_SCHEMA,
    )
    eng.store.bulk_load(ks, cfn, bulk)

    maintenance.compact(eng.store, ks, cfn, buckets=4)
    return _strings(eng.cf(ks, cfn).live(), with_ts=True)


#: the DuckDB SQL each exactly-checked builder above must match
ORACLES: dict[str, str] = {}
ORACLES["cass_get_slice"] = _unpivot_sql("orders", "o_orderkey = 32")
ORACLES["cass_get_slice_names"] = _unpivot_sql("orders", "o_orderkey = 32", cols=["o_orderstatus", "o_totalprice"])
ORACLES["cass_get_slice_reversed"] = _unpivot_sql(
    "orders", "o_orderkey = 32", cols=["o_orderpriority", "o_orderstatus", "o_totalprice"]
)
ORACLES["cass_get_slice_bounded"] = _unpivot_sql(
    "orders", "o_orderkey = 32", cols=["o_orderdate", "o_orderpriority", "o_orderstatus"]
)
ORACLES["cass_multiget_slice"] = _unpivot_sql(
    "orders", "o_orderkey IN (1,2,3,4,5,6,7)", cols=["o_custkey", "o_orderdate"]
)
ORACLES["cass_range_slices_keys"] = (
    "WITH ks AS (SELECT DISTINCT cast(p_partkey as varchar) AS k FROM part "
    "WHERE cast(p_partkey as varchar) >= '100' AND cast(p_partkey as varchar) <= '120' "
    "ORDER BY k LIMIT 10) "
    "SELECT key, \"column\", value FROM (" + _unpivot_sql("part", cols=["p_brand", "p_name"]) + ") "
    "JOIN ks ON key = k"
)
ORACLES["cass_range_slices_wrapped"] = (
    "SELECT key, \"column\", value FROM (" + _unpivot_sql("supplier", cols=["s_acctbal"]) + ") "
    "WHERE md5(key) > 'e8' OR md5(key) <= '18'"
)
# lineitem has duplicate (orderkey, linenumber) rows: the engine's LWW
# reconcile collapses them (equal ts 0, no tombstones -> max value wins),
# so the oracle groups to max(value) per cell coordinate.
ORACLES["cass_super_slice"] = (
    "WITH scs AS (SELECT DISTINCT cast(l_linenumber as varchar) AS s FROM lineitem "
    "WHERE l_orderkey = 1 ORDER BY s LIMIT 3) "
    "SELECT key, sc, \"column\", max(value) AS value FROM ("
    + _unpivot_sql("lineitem", "l_orderkey = 1", with_sc=True)
    + ") JOIN scs ON sc = s GROUP BY key, sc, \"column\""
)
ORACLES["cass_super_subcolumn_slice"] = (
    "SELECT key, sc, \"column\", max(value) AS value FROM ("
    + _unpivot_sql(
        "lineitem",
        "l_orderkey = 1 AND cast(l_linenumber as varchar) = '7'",
        cols=["l_discount", "l_extendedprice", "l_linestatus", "l_partkey"],
        with_sc=True,
    )
    + ") GROUP BY key, sc, \"column\""
)
ORACLES["cass_lww_events"] = """
        WITH cells AS (
          SELECT cast(user_id as varchar) AS key, event_type AS "column",
                 cast(cast(value as decimal(18,4)) as varchar) AS value, epoch_us(ts) AS ts
          FROM events)
        SELECT key, "column", value, ts FROM (
          SELECT *, row_number() OVER (PARTITION BY key, "column" ORDER BY ts DESC, value DESC) AS rn
          FROM cells) t
        WHERE rn = 1
    """
ORACLES["cass_read_at_ts"] = """
        WITH cells AS (
          SELECT cast(user_id as varchar) AS key, event_type AS "column",
                 cast(cast(value as decimal(18,4)) as varchar) AS value, epoch_us(ts) AS ts
          FROM events WHERE epoch_us(ts) <= 1705363200000000)
        SELECT key, "column", value, ts FROM (
          SELECT *, row_number() OVER (PARTITION BY key, "column" ORDER BY ts DESC, value DESC) AS rn
          FROM cells) t
        WHERE rn = 1
    """
ORACLES["cass_lww_row_tombstones"] = """
        WITH cells AS (
          SELECT cast(user_id as varchar) AS key, event_type AS "column",
                 cast(cast(value as decimal(18,4)) as varchar) AS value, epoch_us(ts) AS ts
          FROM events WHERE event_type <> 'error'),
        tombs AS (
          SELECT cast(user_id as varchar) AS key, max(epoch_us(ts)) AS del_ts
          FROM events WHERE event_type = 'error' GROUP BY 1),
        live AS (
          SELECT c.* FROM cells c LEFT JOIN tombs t USING (key)
          WHERE t.del_ts IS NULL OR c.ts > t.del_ts)
        SELECT key, "column", value, ts FROM (
          SELECT *, row_number() OVER (PARTITION BY key, "column" ORDER BY ts DESC, value DESC) AS rn
          FROM live) t
        WHERE rn = 1
    """
ORACLES["cass_super_get_count"] = "SELECT count(DISTINCT l_linenumber) AS count FROM lineitem WHERE l_orderkey = 1"
ORACLES["cass_long_comparator_slice"] = """
        SELECT cast(user_id as varchar) AS key, event_id, event_type AS value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
              FROM events WHERE user_id < 3) t
        WHERE rn <= 3
    """
ORACLES["cass_timeuuid_comparator_slice"] = """
        SELECT cast(user_id as varchar) AS key, epoch_us(ts) AS event_us, event_id,
               event_type AS value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
              FROM events WHERE user_id < 3) t
        WHERE rn <= 3
    """
ORACLES["rows_may_exist"] = """
        WITH probes AS (SELECT cast(k as varchar) AS key FROM generate_series(95, 105) t(k))
        SELECT key, EXISTS (SELECT 1 FROM supplier WHERE cast(s_suppkey as varchar) = key) AS may_exist
        FROM probes
    """
ORACLES["columns_may_exist"] = """
        WITH probes(name) AS (VALUES ('o_custkey'), ('o_totalprice'), ('no_such_col'), ('o_orderstatus'))
        SELECT name, (name <> 'no_such_col' AND EXISTS (SELECT 1 FROM orders WHERE o_orderkey = 32)) AS may_exist
        FROM probes
    """
ORACLES["describe_splits"] = """
        WITH toks AS (SELECT DISTINCT md5(cast(s_suppkey as varchar)) AS t FROM supplier),
        tiled AS (SELECT t, ntile((SELECT greatest(count(*) // 25, 1) FROM toks)) OVER (ORDER BY t) AS tile FROM toks)
        SELECT cast(tile - 1 as integer) AS split_id, max(t) AS end_token FROM tiled GROUP BY tile
    """
# replay of q_cf_join's two mutation logs: LWW per CF, then the join
ORACLES["cf_join"] = """
        WITH ja(key, "column", value, ts) AS (VALUES
          ('u0','name','n0',100),('u0','age','20',100),
          ('u1','name','n1',100),('u1','age','21',100),
          ('u2','name','n2',100),('u2','age','22',100),
          ('u3','name','n3',100),('u3','age','23',100),
          ('u4','name','n4',100),('u4','age','24',100),
          ('u5','name','n5',100),('u5','age','25',100),
          ('u6','name','n6',100),('u6','age','26',100),
          ('u7','name','n7',100),('u7','age','27',100),
          ('u3','name','renamed',200),
          ('only_a','name','solo',100)),
        jb(key, "column", value, ts) AS (VALUES
          ('u0','name','m0',100),('u0','city','c0',100),
          ('u1','name','m1',100),('u1','city','c1',100),
          ('u2','name','m2',100),('u2','city','c2',100),
          ('u3','name','m3',100),('u3','city','c3',100),
          ('u4','name','m4',100),('u4','city','c4',100)),
        la AS (SELECT key, "column", value AS value_a, ts AS ts_a FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY key, "column" ORDER BY ts DESC, value DESC) AS rn
                 FROM ja) WHERE rn = 1),
        lb AS (SELECT key, "column", value AS value_b, ts AS ts_b FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY key, "column" ORDER BY ts DESC, value DESC) AS rn
                 FROM jb) WHERE rn = 1)
        SELECT la.key, la."column", value_a, cast(ts_a as bigint) AS ts_a,
               value_b, cast(ts_b as bigint) AS ts_b
        FROM la JOIN lb ON la.key = lb.key AND la."column" = lb."column"
    """
ORACLES["cass_lexicaluuid_comparator_slice"] = """
        WITH uu AS (
          SELECT cast(user_id as varchar) AS key, md5(cast(event_id as varchar)) AS uu,
                 event_type AS value
          FROM events WHERE user_id < 3),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY key ORDER BY
            -- signed-long DESC over the msb then lsb halves: the positive
            -- group (hex digit < '8') outranks the negative group, and
            -- fixed-width hex string order == unsigned order within a group
            (CASE WHEN substr(uu, 1, 1) >= '8' THEN 0 ELSE 1 END) DESC,
            substr(uu, 1, 16) DESC,
            (CASE WHEN substr(uu, 17, 1) >= '8' THEN 0 ELSE 1 END) DESC,
            substr(uu, 17, 16) DESC) AS rn
          FROM uu)
        SELECT key, uu, value FROM ranked WHERE rn <= 3
    """
ORACLES["cass_freshtimestamp_comparator_slice"] = """
        WITH per_type AS (
          SELECT cast(user_id as varchar) AS key, event_type AS name,
                 cast(count(*) as varchar) AS value
          FROM events WHERE user_id < 3 GROUP BY 1, 2),
        named AS (
          SELECT key, name, value, 1 AS ord FROM per_type
          UNION ALL
          SELECT DISTINCT key, '' AS name, 'fresh' AS value, 0 AS ord FROM per_type),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY key
                                       ORDER BY ord, name DESC) AS rn
          FROM named)
        SELECT key, name, value FROM ranked WHERE rn <= 3
    """
# the exact mutation log q_write_path replays, reduced in SQL by the
# comparePriority tuple (ts, tombstone, value) + row-tombstone shadowing
ORACLES["cass_write_path"] = """
        WITH muts(key, "column", value, ts, tombstone) AS (VALUES
          ('w1','ca','v1',100,false), ('w1','ca','v2',200,false),
          ('w2','ca','a',100,false),  ('w2','ca','b',100,false),
          ('w3','ca','x',300,false),  ('w3','ca',NULL,300,true),
          ('w4','ca','x',100,false),  ('w4','ca',NULL,200,true), ('w4','ca','y',300,false),
          ('w5','ca','g',100,false),  ('w5','cb','h',100,false), ('w5','cb','z',200,false),
          ('w8','ca','m',500,false),
          ('w6','ca','p',100,false),  ('w6','cb','q',100,false), ('w6','cc','r',100,false),
          ('w6','ca',NULL,150,true),  ('w6','cb',NULL,150,true),
          ('w7','ca','p7',100,false), ('w7','cb','q7',100,false)),
        rowdel(key, del_ts) AS (VALUES ('w5',150), ('w8',400)),
        won AS (
          SELECT key, "column", value, ts, tombstone, row_number() OVER (
            PARTITION BY key, "column"
            ORDER BY ts DESC, tombstone DESC, value DESC NULLS LAST) AS rn
          FROM muts),
        live AS (SELECT key, "column", value, ts FROM won WHERE rn = 1 AND NOT tombstone)
        SELECT l.key, l."column", l.value, cast(l.ts as bigint) AS ts
        FROM live l LEFT JOIN rowdel r ON l.key = r.key
        WHERE r.del_ts IS NULL OR l.ts > r.del_ts
    """
