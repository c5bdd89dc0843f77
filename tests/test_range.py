"""get_range_slices / describe_splits — mirrors test_server.py:882
(test_get_range_slice), :937 (wrap-around token ranges)."""

from apache_cassandra_spark.model import KeyRange, SlicePredicate, SliceRange
from apache_cassandra_spark.operators import read

from tests.util import cell, make_cf


def range_cf(spark, order_preserving=True):
    cells = []
    for i in range(30):
        k = f"key{i:02d}"
        cells.append(cell(k, b"c1", f"v{i}".encode(), 0))
        cells.append(cell(k, b"c2", f"w{i}".encode(), 0))
    return make_cf(spark, cells, order_preserving=order_preserving)


def keys_of(df):
    return sorted({r["key"] for r in df.collect()})


def test_key_range_inclusive_bounds(spark):
    cf = range_cf(spark)
    pred = SlicePredicate(slice_range=SliceRange(count=10))
    kr = KeyRange(start_key="key05", end_key="key08", count=100)
    assert keys_of(read.get_range_slices(cf, pred, kr)) == ["key05", "key06", "key07", "key08"]
    # R6, the pre-0.6 key-addressed signature, forwards to R7
    assert keys_of(read.get_range_slice(cf, pred, "key05", "key08", 100)) == ["key05", "key06", "key07", "key08"]
    # an empty finish key leaves the end open
    assert keys_of(read.get_range_slice(cf, pred, "key27", "", 100)) == ["key27", "key28", "key29"]


def test_key_range_row_count_cap(spark):
    cf = range_cf(spark)
    pred = SlicePredicate(slice_range=SliceRange(count=10))
    kr = KeyRange(start_key="key00", end_key="key29", count=5)
    got = keys_of(read.get_range_slices(cf, pred, kr))
    assert got == ["key00", "key01", "key02", "key03", "key04"]


def test_range_per_row_slice_applied(spark):
    cf = range_cf(spark)
    pred = SlicePredicate(slice_range=SliceRange(count=1))
    kr = KeyRange(start_key="key00", end_key="key02", count=10)
    rows = read.get_range_slices(cf, pred, kr).collect()
    assert all(bytes(r["column"]) == b"c1" for r in rows) and len(rows) == 3


def test_token_range_start_exclusive(spark):
    cf = range_cf(spark)
    pred = SlicePredicate(slice_range=SliceRange(count=10))
    kr = KeyRange(start_token="key05", end_token="key08", count=100)
    # token addressing: start exclusive, end inclusive
    assert keys_of(read.get_range_slices(cf, pred, kr)) == ["key06", "key07", "key08"]


def test_wrapped_token_range(spark):
    cf = range_cf(spark)
    pred = SlicePredicate(slice_range=SliceRange(count=10))
    kr = KeyRange(start_token="key27", end_token="key01", count=100)
    got = keys_of(read.get_range_slices(cf, pred, kr))
    assert got == ["key00", "key01", "key28", "key29"]


def test_full_ring_scan(spark):
    cf = range_cf(spark)
    pred = SlicePredicate(slice_range=SliceRange(count=10))
    kr = KeyRange(start_token="", end_token="", count=1000)
    assert len(keys_of(read.get_range_slices(cf, pred, kr))) == 30


def test_random_partitioner_paging_is_md5_ordered(spark):
    import hashlib

    cf = range_cf(spark, order_preserving=False)
    pred = SlicePredicate(slice_range=SliceRange(count=10))
    kr = KeyRange(start_token="", end_token="", count=7)
    got = keys_of(read.get_range_slices(cf, pred, kr))
    all_keys = [f"key{i:02d}" for i in range(30)]
    expected = sorted(all_keys, key=lambda k: hashlib.md5(k.encode()).hexdigest())[:7]
    assert got == sorted(expected)


def test_describe_splits(spark):
    cf = range_cf(spark)
    bounds = read.describe_splits(cf, keys_per_split=10)
    assert len(bounds) == 3
    assert bounds[-1] == "key29"
    assert bounds == sorted(bounds)


def test_empty_columns_row_still_occupies_count_slot(spark):
    # test_server.py:893 "test empty columns": a row matching no requested
    # columns is still a result row (and consumes a count slot)
    cf = range_cf(spark)
    pred = SlicePredicate(column_names=(b"absent",))
    kr = KeyRange(start_key="key00", end_key="key05", count=2)
    out = read.get_range_slices(cf, pred, kr, include_empty_rows=True).collect()
    assert sorted({r["key"] for r in out}) == ["key00", "key01"]
    assert all(r["column"] is None for r in out)
    # default mode: ghost rows silent but still counted against `count`
    out2 = read.get_range_slices(cf, pred, kr).collect()
    assert out2 == []


def test_wrapped_equal_tokens_is_full_ring_in_ring_order(spark):
    # test_server.py:937 wrapped ranges: equal start/end token = full ring,
    # rows returned starting AFTER the token, wrapping around
    cells = [cell(k, b"c1", b"v", 0) for k in ["a", "b", "c", "d", "e"]]
    cf = make_cf(spark, cells, order_preserving=True)
    pred = SlicePredicate(column_names=(b"c1",))
    kr = KeyRange(start_token="c", end_token="c", count=100)
    got = keys_of(read.get_range_slices(cf, pred, kr))
    assert got == ["a", "b", "c", "d", "e"]
    # count cap consumes ring order from the start token: d, e, a
    kr3 = KeyRange(start_token="c", end_token="c", count=3)
    got3 = keys_of(read.get_range_slices(cf, pred, kr3))
    assert got3 == ["a", "d", "e"]


def test_range_scan_sees_tombstoned_rows_excluded(spark):
    cells = [cell("ka", b"c1", b"v", 0), cell("kb", b"c1", b"v", 0)]
    cf = make_cf(spark, cells, ctombs=[("ka", None, 5, 0)], order_preserving=True)
    pred = SlicePredicate(slice_range=SliceRange(count=10))
    kr = KeyRange(start_key="", end_key="", count=10)
    assert keys_of(read.get_range_slices(cf, pred, kr)) == ["kb"]


def test_row_tombstone_only_row_is_range_ghost(spark):
    # a row whose only remaining trace is a container tombstone still
    # occupies a count slot until gcBefore (reference: the row deletion
    # marker keeps the key visible to getKeyRange)
    cells = [cell("kb", b"c1", b"v", 0)]
    cf = make_cf(spark, cells, ctombs=[("ka", None, 5, 10**9)], order_preserving=True)
    pred = SlicePredicate(slice_range=SliceRange(count=10))
    kr = KeyRange(start_key="", end_key="", count=10)
    out = read.get_range_slices(cf, pred, kr, include_empty_rows=True).collect()
    assert sorted({r["key"] for r in out}) == ["ka", "kb"]
    # the ghost consumes the single count slot (ka sorts first)
    kr1 = KeyRange(start_key="", end_key="", count=1)
    assert read.get_range_slices(cf, pred, kr1).collect() == []


def test_describe_splits_sampled_path(spark):
    # above exact_threshold the boundaries come from a deterministic
    # md5-prefix sample; they must still be sorted, cover the range end,
    # and contain at most `splits` entries
    cf = range_cf(spark)
    bounds = read.describe_splits(cf, keys_per_split=10, exact_threshold=10)
    assert bounds == sorted(bounds)
    assert 1 <= len(bounds) <= 3
    assert bounds[-1] == "key29"
