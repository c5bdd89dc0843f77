"""Key-pinned Engine reads (get, get_slice, multiget, multiget_slice,
get_count) and range reads (get_range_slices) run on the driver:
``CellStore.key_cells`` reads the keys' rows with pyarrow (for a range,
after ``CellStore.range_keys`` picks its keys in ring order),
``reconcile.live_rows`` merges them, and the result is a driver-built
DataFrame. These tests pin the path to the Spark operators over a bound
``CF`` (differentially, over random stores), to Spark's bucket hash and
token expressions, and to zero Spark jobs."""

import collections
import functools
import os
import struct

import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from apache_cassandra_spark.catalog import Catalog
from apache_cassandra_spark.engine import Engine
from apache_cassandra_spark.functions.reconcile import reconcile
from apache_cassandra_spark.functions.tokens import (
    CollatingOrderPreservingPartitioner,
    OdklDomainPartitioner,
    OrderPreservingPartitioner,
    RandomPartitioner,
)
from apache_cassandra_spark.model import ColumnPath, KeyRange, SlicePredicate, SliceRange
from apache_cassandra_spark.operators import maintenance as M
from apache_cassandra_spark.operators import read as R
from apache_cassandra_spark.operators.write import MutationBatch
from apache_cassandra_spark.sources import cellstore
from apache_cassandra_spark.sources.cellstore import CELL_SCHEMA, spark_bucket

KS = "KS"
CATALOG = {
    KS: {
        "Std": {"compare_with": "BytesType"},
        "Dom": {"compare_with": "BytesType", "domain_split": True},
        "Sup": {"column_type": "Super", "compare_with": "BytesType", "compare_subcolumns_with": "LongType"},
    }
}
ALL = SlicePredicate(slice_range=SliceRange(count=1000))


def _i64(i: int) -> bytes:
    return struct.pack(">q", i)


def _jobs(spark, fn) -> int:
    """Spark jobs that ``fn`` runs, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup("key-reads", "key reads")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup("key-reads"))


def test_spark_bucket_matches_spark_hash(spark):
    """``spark_bucket`` is ``pmod(hash(key), n)``: keys of 1–9 characters,
    non-ASCII included, so every murmur3 tail length (0–3 bytes) occurs."""
    keys = []

    @settings(max_examples=300, database=None, deadline=None)
    @given(st.text(min_size=1, max_size=9))
    def draw(key):
        keys.append(key)

    draw()
    keys += ["a" * n for n in range(1, 10)] + ["é" * n for n in range(1, 5)] + ["\x00", "日本語", "\U0001f600"]
    assert {len(k.encode()) % 4 for k in keys} == {0, 1, 2, 3}
    mods = (1, 2, 4, 7, 200)
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = df.select("key", *[F.pmod(F.hash("key"), F.lit(n)).alias(f"b{n}") for n in mods]).collect()
    assert len(got) == len(keys)
    for r in got:
        assert [r[f"b{n}"] for n in mods] == [spark_bucket(r["key"], n) for n in mods], r["key"]


def test_token_of_matches_token_column(spark):
    """Every partitioner's driver ``token_of`` equals its Spark ``token``
    expression, which orders ``R.get_range_slices``: keys of 0–2
    characters, non-ASCII and punctuation included, in one Spark job."""
    keys = []

    @settings(max_examples=300, database=None, deadline=None)
    @given(st.text(max_size=2))
    def draw(key):
        keys.append(key)

    draw()
    keys += ["", "a", "A", "-a", "a-", ".", "a.b", "a b", "0", "_Z", "é", "İ", "ßΣ", "AΣ", "日本", "\U0001f600x", "\x00"]
    parts = [RandomPartitioner(), OrderPreservingPartitioner(), CollatingOrderPreservingPartitioner(), OdklDomainPartitioner()]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = df.select("key", *[p.token(F.col("key")).alias(p.name) for p in parts]).collect()
    assert len(got) == len(keys)
    for r in got:
        assert [r[p.name] for p in parts] == [p.token_of(r["key"]) for p in parts], r["key"]


def _engine(spark, root) -> Engine:
    return Engine(spark, str(root), Catalog.from_dict(CATALOG))


def _fill(engine, cf, keys, ts=1, durable=True):
    for key in keys:
        for c in (b"a", b"b", b"c"):
            sc = b"s1" if cf == "Sup" else None
            col = _i64(c[0]) if cf == "Sup" else c
            engine.insert(KS, key, ColumnPath(cf, super_column=sc, column=col), key.encode() + c, ts, durable=durable)


def test_key_reads_run_no_spark_job(spark, tmp_path, monkeypatch):
    """Each of the five key reads and a range read, collected, runs 0 jobs
    on a compacted CF, then with delta cells, with container tombstones and
    with pending rows; on a domain-split CF and on a Super CF. On the
    compacted CF a point read opens one of the generation's four bucket
    files. A minor compaction of each CF's delta files runs 0 jobs too."""
    engine = _engine(spark, tmp_path)
    keys = ["k_ab", "k_cd", "x"]
    for cf in ("Dom", "Sup"):
        _fill(engine, cf, keys)
        engine.compact(KS, cf)
        _fill(engine, cf, keys[:1], ts=2)
    col = {"Std": ColumnPath("Std", column=b"a"), "Dom": ColumnPath("Dom", column=b"a")}
    col["Sup"] = ColumnPath("Sup", super_column=b"s1", column=_i64(ord("a")))

    def reads(cf):
        out = [
            engine.get(KS, "k_ab", col[cf]).collect(),
            engine.get_slice(KS, "k_ab", cf, ALL).collect(),
            engine.multiget(KS, keys + ["none"], col[cf]).collect(),
            engine.multiget_slice(KS, keys, cf, ALL).collect(),
            engine.get_range_slices(KS, cf, ALL, KeyRange(start_token="", end_token="", count=5)).collect(),
        ]
        return out, engine.get_count(KS, "k_cd", cf)

    def states():
        _fill(engine, "Std", [f"k{i}" for i in range(40)] + keys)
        engine.compact(KS, "Std", buckets=4)
        yield "Std", "compacted"
        _fill(engine, "Std", keys[:1], ts=2)
        yield "Std", "delta cells"
        engine.remove(KS, "k_cd", ColumnPath("Std"), 3)
        yield "Std", "container tombstones"
        _fill(engine, "Std", keys[1:], ts=4, durable=False)
        yield "Std", "pending rows"
        yield "Dom", "domain split"
        yield "Sup", "super"

    for cf, state in states():
        assert _jobs(spark, lambda: reads(cf)) == 0, state
        if state == "compacted":
            gen = os.path.join(engine.store.root, KS, "Std", engine.store.compacted_meta(KS, "Std")["path"])
            assert len([f for f in os.listdir(gen) if f.endswith(".parquet")]) == 4
            opened, scan = [], cellstore._scan

            def counting_scan(paths, *args):
                opened.extend(p for p in paths if p.startswith(gen))
                return scan(paths, *args)

            with monkeypatch.context() as m:
                m.setattr(cellstore, "_scan", counting_scan)
                rows = engine.get_slice(KS, "k7", "Std", ALL).collect()
            assert [bytes(r["value"]) for r in rows] == [b"k7a", b"k7b", b"k7c"]
            assert [os.path.basename(p).split(".")[0][-6:] for p in opened] == [f"_{spark_bucket('k7', 4):05d}"]
    out, count = reads("Std")
    assert count == 3 and len(out[3]) == 9  # the pending rows resurrect k_cd
    assert len({r["key"] for r in out[4]}) == 5
    assert engine.multiget(KS, [], col["Std"]).collect() == []
    # each CF holds three similar delta files: a minor compaction merges them
    before, ran = {cf: reads(cf) for cf in CATALOG[KS]}, []

    def minors():
        ran.extend(M.submit_minor_if_needed(engine.store, KS, cf, min_threshold=2) for cf in CATALOG[KS])

    assert _jobs(spark, minors) == 0
    assert ran == [True, True, True]
    assert {cf: reads(cf) for cf in CATALOG[KS]} == before


# -- differential: driver path vs the Spark operators ------------------------

KEYS = ["k_ab", "m_ab", "k_cd", "x"]  # two keys share a domain; "x" is short
NAMES = {"Std": [b"a", b"b", b"c", b"d"], "Dom": [b"a", b"b", b"c", b"d"], "Sup": [b"s1", b"s2", b"s3"]}
SUBS = [_i64(-(2**40)), _i64(-1), _i64(0), _i64(7)]
VALUES = [b"", b"x", b"y", None]
TS = st.integers(min_value=0, max_value=3)  # narrow: equal-ts ties are common


@st.composite
def _op(draw):
    cf = draw(st.sampled_from(["Std", "Dom", "Sup"]))
    key = draw(st.sampled_from(KEYS))
    sc = draw(st.sampled_from(NAMES["Sup"])) if cf == "Sup" else None
    col = draw(st.sampled_from(SUBS if cf == "Sup" else NAMES[cf]))
    kind = draw(st.sampled_from(["put", "put", "put", "del_cell", "del_container"]))
    if kind == "del_container":  # a row tombstone, or a supercolumn's
        col = None
        sc = draw(st.sampled_from([None, sc]))
    value = draw(st.sampled_from(VALUES))
    # mostly pending: each durable write is a delta file, which the Spark
    # side scans once per read
    return kind, cf, key, sc, col, value, draw(TS), draw(st.sampled_from([True, False, False]))


def _apply(engine, ops):
    for kind, cf, key, sc, col, value, ts, durable in ops:
        path = ColumnPath(cf, super_column=sc, column=col)
        if kind == "put":
            engine.insert(KS, key, path, value, ts, durable=durable)
        else:
            engine.remove(KS, key, path, ts, ldt=100, durable=durable)


@st.composite
def _slice(draw, names, py_key):
    if draw(st.booleans()):
        return SlicePredicate(column_names=tuple(draw(st.lists(st.sampled_from(names), min_size=1, max_size=3))))
    start, finish = draw(st.sampled_from([b""] + names)), draw(st.sampled_from([b""] + names))
    rev = draw(st.booleans())
    if start and finish and (py_key(finish) < py_key(start)) != rev:
        start, finish = finish, start
    count = draw(st.integers(min_value=1, max_value=4))
    return SlicePredicate(slice_range=SliceRange(start=start, finish=finish, reversed=rev, count=count))


# the tokens of the keys, of a key never written, and one between them
TOKENS = sorted({RandomPartitioner().token_of(k) for k in KEYS + ["none"]} | {"8" * 32})


@st.composite
def _range(draw):
    """``(KeyRange, include_empty_rows)``: key bounds (empty is open, "none"
    is no stored key), token bounds, a wrapped token range or equal tokens
    (the whole ring); a ``count`` of 1–5, so caps fall on ghosts."""
    count = draw(st.integers(min_value=1, max_value=5))
    how = draw(st.sampled_from(["keys", "tokens", "wrap", "ring"]))
    if how == "keys":
        bound = st.sampled_from(["", *KEYS, "none"])
        kr = KeyRange(start_key=draw(bound), end_key=draw(bound), count=count)
    elif how == "tokens":
        bound = st.sampled_from(["", *TOKENS])
        kr = KeyRange(start_token=draw(bound), end_token=draw(bound), count=count)
    else:
        lo, hi = sorted(draw(st.lists(st.sampled_from(TOKENS), min_size=2, max_size=2, unique=True)))
        lo, hi = (hi, lo) if how == "wrap" else (lo, lo)
        kr = KeyRange(start_token=lo, end_token=hi, count=count)
    return kr, draw(st.booleans())


@st.composite
def _queries(draw):
    """``(cf, op, keys or key or range, path or predicate, super_column)``
    per Spark read: on the Standard CF both multi-key ops, a count and a
    range, on the domain-split CF a slice and a range, on the Super CF
    slices, ranges and counts at both levels and gets of a subcolumn and
    of a whole supercolumn."""
    key, keys = st.sampled_from(KEYS), st.lists(st.sampled_from(KEYS + ["none"]), min_size=1, max_size=5)
    sc = draw(st.sampled_from(NAMES["Sup"]))
    return [
        ("Std", "range", draw(_range()), draw(_slice(NAMES["Std"], bytes)), None),
        ("Dom", "range", draw(_range()), draw(_slice(NAMES["Dom"], bytes)), None),
        ("Sup", "range", draw(_range()), draw(_slice(NAMES["Sup"], bytes)), None),
        ("Sup", "range", draw(_range()), draw(_slice(SUBS, _long)), sc),
        ("Std", "multiget_slice", draw(keys), draw(_slice(NAMES["Std"], bytes)), None),
        ("Std", "multiget", draw(keys), ColumnPath("Std", column=draw(st.sampled_from(NAMES["Std"]))), None),
        ("Std", "get_count", draw(key), None, None),
        ("Dom", "multiget_slice", draw(keys), draw(_slice(NAMES["Dom"], bytes)), None),
        ("Sup", "multiget_slice", draw(keys), draw(_slice(NAMES["Sup"], bytes)), None),
        ("Sup", "multiget_slice", draw(keys), draw(_slice(SUBS, _long)), sc),
        ("Sup", "multiget", draw(keys), ColumnPath("Sup", super_column=sc, column=draw(st.sampled_from(SUBS))), None),
        ("Sup", "multiget", draw(keys), ColumnPath("Sup", super_column=sc), None),
        ("Sup", "get_count", draw(key), None, None),
        ("Sup", "get_count", draw(key), None, sc),
    ]


def _long(name: bytes) -> int:
    return struct.unpack(">q", name)[0]


def _both(engine, handle, cf, op, target, arg, sc):
    """The read through the Engine and through the Spark operator."""
    if op == "range":
        kr, empty = target
        return (
            engine.get_range_slices(KS, cf, arg, kr, sc, include_empty_rows=empty),
            R.get_range_slices(handle, arg, kr, sc, include_empty_rows=empty),
        )
    if op == "multiget":
        return engine.multiget(KS, target, arg), R.multiget(handle, target, arg)
    if op == "get_count":
        return engine.get_count(KS, target, cf, sc), R.get_count(handle, target, sc)
    return engine.multiget_slice(KS, target, cf, arg, super_column=sc), R.multiget_slice(handle, target, arg, sc)


def _single(engine, cf, op, key, arg, sc):
    """The one-key Engine read that a multi-key read fans out."""
    if op == "multiget":
        return engine.get(KS, key, arg)
    return engine.get_slice(KS, key, cf, arg, super_column=sc)


def _tuple(row) -> tuple:
    return tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in row)


def _ring(kr: KeyRange):
    """A key's place in ring order: by token, from just past a wrapped
    range's start token."""
    start = kr.start_token
    wraps = bool(start and kr.end_token and start >= kr.end_token)

    def place(key):
        t = RandomPartitioner().token_of(key)
        return wraps and t <= start, t, key

    return place


def _expected_order(rows, cf, arg, sc, key_order=lambda k: k):
    """Key order (``key_order``), then the addressed names in comparator
    order (descending when reversed), subcolumns ascending inside a
    supercolumn."""
    sub = cf == "Sup" and (sc is not None or isinstance(arg, ColumnPath))
    parent = cf == "Sup" and not sub
    name_key, at = (_long, 2) if sub else (bytes, 1 if parent else 2)
    rev = isinstance(arg, SlicePredicate) and arg.slice_range is not None and arg.slice_range.reversed
    rows = sorted(rows, key=lambda r: (0,) if not parent or r[2] is None else (1, _long(r[2])))
    rows.sort(key=lambda r: (0,) if r[at] is None else (1, name_key(r[at])), reverse=rev)
    return sorted(rows, key=lambda r: key_order(r[0]))


def _check(engines, queries):
    """Each read on each engine, both ways: the same schema and rows, the
    driver's rows in order (a range's in ring order). Every Spark read runs
    in one collect (a count rides in ``ts``). Each key of a multi-key read
    is also read alone through the Engine (``get`` / ``get_slice``), which
    must give that key's rows."""
    nulls = [F.lit(None).cast(t).alias(c) for c, t in zip(R.RESULT_COLS, ["string", "binary", "binary", "binary"])]
    reads = [(engine, q) for engine in engines for q in queries]
    handles = {(id(engine), cf): engine.cf(KS, cf) for engine in engines for cf in CATALOG[KS]}
    frames, driver = [], []
    for i, (engine, (cf, op, target, arg, sc)) in enumerate(reads):
        d, s = _both(engine, handles[(id(engine), cf)], cf, op, target, arg, sc)
        if op == "get_count":
            driver.append([(None, None, None, None, d)])
            frames.append(s.select(F.lit(i).alias("q"), *nulls, F.col("count").alias("ts")))
            continue
        assert d.schema == s.schema, reads[i]
        driver.append([_tuple(r) for r in d.collect()])
        frames.append(s.select(F.lit(i).alias("q"), *R.RESULT_COLS))
        for key in set(target) if op != "range" else ():
            one = _single(engine, cf, op, key, arg, sc)
            assert one.schema == s.schema, (reads[i], key)
            assert [_tuple(r) for r in one.collect()] == [r for r in driver[i] if r[0] == key and r[4] is not None]
    got = collections.defaultdict(list)
    for row in functools.reduce(lambda a, b: a.union(b), frames).collect():
        got[row["q"]].append(_tuple(row)[1:])
    for i, (_, (cf, op, target, arg, sc)) in enumerate(reads):
        assert collections.Counter(driver[i]) == collections.Counter(got[i]), reads[i]
        order = _ring(target[0]) if op == "range" else (lambda k: k)
        assert op == "get_count" or driver[i] == _expected_order(driver[i], cf, arg, sc, order), reads[i]


@settings(max_examples=1, deadline=None, database=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(_op(), min_size=8, max_size=24),
    st.lists(_op(), min_size=1, max_size=10),
    st.booleans(),
    st.booleans(),
    _queries(),
)
def test_driver_reads_equal_spark_operators(spark, tmp_path_factory, before, after, purge, minor, queries):
    """Random stores built through Engine writes (durable and pending,
    cell, row and supercolumn tombstones, equal-ts ties, null values) over
    a Standard, a domain-split and a Super CF; every key and range read, compared on
    a store holding the ``before`` writes and on one that also ran a major
    compaction, then the ``after`` writes. With ``minor`` drawn, both
    stores then run a minor compaction of each CF's delta files. One
    example per run — each Spark read costs about half a second — so every
    run draws a new store."""
    stores = [_engine(spark, tmp_path_factory.mktemp("diff")) for _ in range(2)]
    for engine in stores:
        _apply(engine, before)
    for cf in CATALOG[KS]:
        stores[1].compact(KS, cf, **({"gc_grace_seconds": 0, "now": 1000} if purge else {}))
    _apply(stores[1], after)
    for engine in stores if minor else ():
        for cf in CATALOG[KS]:
            engine.compact_minor_if_needed(KS, cf, min_threshold=2)
    _check(stores, queries)


@st.composite
def _tier(draw):
    """``(cf, files)``: 2–5 delta files of 1–5 cell rows each, on one CF.
    Two keys share the domain-split CF's ``_dom=ab`` pool; names are
    narrow, so coordinates repeat; equal-ts ties, null values and cell
    tombstones whose ``ldt`` is drawn apart from their ``ts``. The Super
    CF's rows may also have a null ``sc``, so the merge's sort meets both."""
    cf = draw(st.sampled_from(list(CATALOG[KS])))
    files = []
    for _ in range(draw(st.integers(min_value=2, max_value=5))):
        rows = []
        for _ in range(draw(st.integers(min_value=1, max_value=5))):
            key = draw(st.sampled_from(KEYS[:3]))
            sc = draw(st.sampled_from([None, *NAMES["Sup"][:2]])) if cf == "Sup" else None
            col = draw(st.sampled_from(SUBS[:2] if cf == "Sup" else NAMES[cf][:2]))
            if draw(st.booleans()):
                rows.append((key, sc, col, None, draw(TS), True, draw(st.sampled_from([100, 200]))))
            else:
                rows.append((key, sc, col, draw(st.sampled_from(VALUES)), draw(TS), False, None))
        files.append(rows)
    return cf, files


def _cell(row) -> tuple:
    return tuple(bytes(v) if isinstance(v, bytearray) else v for v in row)


@settings(max_examples=8, deadline=None, database=None, suppress_health_check=list(HealthCheck))
@given(_tier())
def test_driver_minor_equals_spark_reconcile(spark, tmp_path_factory, tier):
    """A minor compaction's merged file holds Spark ``reconcile()`` over
    the same input files, one row per ``(key, sc, column)`` sorted by it
    (a null ``sc`` first). Two tombstones of one ``ts`` tie on the whole
    priority; either may win (the reference's ``Column.reconcile``: "it
    doesn't matter which one we use"), so the winner's ``ldt`` must be one
    of the tied rows'."""
    cf, files = tier
    store = _engine(spark, tmp_path_factory.mktemp("minor")).store
    for cells in files:
        store.apply(KS, cf, MutationBatch(cells=cells))
    base = store._cf_dir(KS, cf)
    pools = collections.defaultdict(list)
    for rel in store._files(KS, cf, "cells"):
        pools[os.path.dirname(rel)].append(rel)
    inputs = [os.path.join(base, f) for fs in pools.values() if len(fs) >= 2 for f in fs]
    want = [_cell(r) for r in reconcile(spark.read.schema(CELL_SCHEMA).parquet(*inputs)).collect()] if inputs else []
    ran = M.submit_minor_if_needed(store, KS, cf, min_threshold=2, bucket_ratio=float("inf"))
    assert ran == bool(inputs)
    merged = sorted(set(store._files(KS, cf, "cells")) - {f for fs in pools.values() for f in fs})
    assert len(merged) == sum(len(fs) >= 2 for fs in pools.values())
    got = []
    for f in merged:
        rows = [tuple(r.values()) for r in pq.ParquetFile(os.path.join(base, f)).read().to_pylist()]
        order = [(r[0], r[1] is not None, r[1] or b"", r[2]) for r in rows]
        assert order == sorted(set(order)), f  # sorted, one row per coordinate
        got += rows
    assert collections.Counter(r[:6] for r in got) == collections.Counter(r[:6] for r in want)
    ldts = collections.defaultdict(set)
    for row in (r for cells in files for r in cells):
        ldts[row[:6]].add(row[6])
    assert all(r[6] in ldts[r[:6]] for r in got)
    assert all(r[6] == w[6] for r in got for w in want if r[:6] == w[:6] and len(ldts[r[:6]]) == 1)


def test_range_count_cap_lands_on_ghosts(spark, tmp_path):
    """A range spends its ``count`` in ring order on ghost keys too (a row
    stored only as a row tombstone; a row with no live cell of the asked
    name): over the whole
    ring, a wrapped token range and inclusive key bounds, each capped on
    the ghost, the Engine matches the Spark operator, and the ghost shows
    only with ``include_empty_rows``."""
    engine = _engine(spark, tmp_path)
    tok = RandomPartitioner().token_of
    ring = sorted((f"r{i}" for i in range(8)), key=tok)
    _fill(engine, "Std", ring[:2] + ring[3:])
    engine.remove(KS, ring[2], ColumnPath("Std"), 2)  # known only by this tombstone
    engine.remove(KS, ring[6], ColumnPath("Std", column=b"a"), 2, durable=False)
    cases = [
        (KeyRange(start_token=tok(ring[7]), end_token=tok(ring[7]), count=3), ring[:3]),
        (KeyRange(start_token=tok(ring[4]), end_token=tok(ring[2]), count=6), ring[5:] + ring[:3]),
        (KeyRange(start_key=ring[0], end_key=ring[2], count=3), ring[:3]),
    ]
    names = SlicePredicate(column_names=(b"a",))
    queries = []
    for kr, want in cases:
        for pred, ghosts in ((ALL, {ring[2]}), (names, {ring[2], ring[6]})):
            for empty in (False, True):
                queries.append(("Std", "range", (kr, empty), pred, None))
                rows = engine.get_range_slices(KS, "Std", pred, kr, include_empty_rows=empty).collect()
                assert list(dict.fromkeys(r["key"] for r in rows)) == [k for k in want if empty or k not in ghosts]
                assert all(r["column"] is None for r in rows if r["key"] in ghosts)
    _check([engine], queries)
