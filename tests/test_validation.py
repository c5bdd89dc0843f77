"""ThriftValidation parity (thrift/ThriftValidation.java:280-360):
malformed requests rejected before touching storage."""

import pytest

from apache_cassandra_spark.catalog import Catalog
from apache_cassandra_spark.engine import Engine
from apache_cassandra_spark.model import ColumnPath, Deletion, KeyRange, Mutation, SlicePredicate, SliceRange
from apache_cassandra_spark.validation import InvalidRequest


@pytest.fixture()
def engine(spark, tmp_path):
    catalog = Catalog.from_dict(
        {
            "KS": {
                "Std": {"compare_with": "UTF8Type"},
                "StdLong": {"compare_with": "LongType"},
                "Sup": {"column_type": "Super", "compare_with": "BytesType", "compare_subcolumns_with": "LongType"},
            }
        }
    )
    return Engine(spark, str(tmp_path), catalog)


def test_empty_key_rejected(engine):
    with pytest.raises(InvalidRequest, match="empty"):
        engine.insert("KS", "", ColumnPath("Std", column=b"c"), b"v", 1)


def test_unknown_cf_rejected(engine):
    with pytest.raises(InvalidRequest, match="unknown column family"):
        engine.insert("KS", "k", ColumnPath("Nope", column=b"c"), b"v", 1)


def test_unknown_keyspace_rejected(engine):
    with pytest.raises(InvalidRequest, match="unknown keyspace"):
        engine.insert("Nope", "k", ColumnPath("Std", column=b"c"), b"v", 1)


def test_supercolumn_on_standard_cf_rejected(engine):
    with pytest.raises(InvalidRequest, match="supercolumn"):
        engine.insert("KS", "k", ColumnPath("Std", super_column=b"sc", column=b"c"), b"v", 1)


def test_column_without_supercolumn_on_super_cf_rejected(engine):
    with pytest.raises(InvalidRequest, match="without supercolumn"):
        engine.insert("KS", "k", ColumnPath("Sup", column=b"\0" * 8), b"v", 1)


def test_long_comparator_length_checked(engine):
    with pytest.raises(InvalidRequest, match="8 bytes"):
        engine.insert("KS", "k", ColumnPath("StdLong", column=b"short"), b"v", 1)
    engine.insert("KS", "k", ColumnPath("StdLong", column=b"\0" * 8), b"v", 1, durable=False)


def test_empty_column_name_rejected(engine):
    with pytest.raises(InvalidRequest, match="empty"):
        engine.insert("KS", "k", ColumnPath("Std", column=b""), b"v", 1)


def test_batch_mutate_validates_each_mutation(engine):
    bad = Mutation(column_name=b"c", value=b"v", timestamp=1, deletion=Deletion(timestamp=2))
    with pytest.raises(InvalidRequest, match="exactly one"):
        engine.batch_mutate("KS", {"k": {"Std": [bad]}})
    with pytest.raises(InvalidRequest, match="timestamp"):
        engine.batch_mutate("KS", {"k": {"Std": [Mutation(column_name=b"c", value=b"v")]}})


def test_slice_range_deletion_rejected(engine):
    d = Deletion(timestamp=1, predicate=SlicePredicate(slice_range=SliceRange()))
    with pytest.raises(InvalidRequest, match="column names"):
        engine.batch_mutate("KS", {"k": {"Std": [Mutation(deletion=d)]}})


def test_row_remove_without_column_ok(engine):
    engine.remove("KS", "k", ColumnPath("Std"), 5, durable=False)  # no exception


def test_bare_column_mutation_on_super_cf_rejected(engine):
    # reference ThriftValidation rejects a Column (no supercolumn) mutation
    # addressed at a Super CF
    m = Mutation(column_name=b"\x00" * 8, value=b"v", timestamp=1)
    with pytest.raises(InvalidRequest, match="supercolumn"):
        engine.batch_mutate("KS", {"k": {"Sup": [m]}})


def test_column_name_length_cap(engine):
    # test_server.py:545 — 2^16-1 bytes ok, 2^16 rejected
    from apache_cassandra_spark.model import ColumnPath

    ok = b"x" * (2**16 - 1)
    engine.insert("KS", "key1", ColumnPath("Std", column=ok), b"v", 0, durable=False)
    with pytest.raises(InvalidRequest):
        engine.insert(
            "KS", "key1", ColumnPath("Std", column=b"x" * 2**16), b"v", 0, durable=False
        )


def test_slice_bounds_validated(engine):
    # test_server.py:557 — undecodable bound and start>finish rejected,
    # standard and supercolumn-addressed variants
    from apache_cassandra_spark.model import SlicePredicate, SliceRange
    import struct

    def i64(i):
        return struct.pack(">q", i)

    bad_type = SlicePredicate(slice_range=SliceRange(start=b"x", count=1))
    with pytest.raises(InvalidRequest):
        engine.get_slice("KS", "key1", "StdLong", bad_type)
    backwards = SlicePredicate(slice_range=SliceRange(start=i64(10), finish=i64(0), count=1))
    with pytest.raises(InvalidRequest):
        engine.get_slice("KS", "key1", "StdLong", backwards)
    # supercolumn-addressed: bounds validated under the SUB comparator
    with pytest.raises(InvalidRequest):
        engine.get_slice("KS", "key1", "Sup", bad_type, super_column=b"sc1")
    with pytest.raises(InvalidRequest):
        engine.get_slice("KS", "key1", "Sup", backwards, super_column=b"sc1")
    # reversed flips the requirement: start must sort at-or-after finish
    rev_ok = SlicePredicate(slice_range=SliceRange(start=i64(10), finish=i64(0), reversed=True, count=1))
    engine.get_slice("KS", "key1", "StdLong", rev_ok)  # no raise
    rev_bad = SlicePredicate(slice_range=SliceRange(start=i64(0), finish=i64(10), reversed=True, count=1))
    with pytest.raises(InvalidRequest):
        engine.get_slice("KS", "key1", "StdLong", rev_bad)


def test_get_validates_key_and_path(engine):
    for key, path, msg in [
        ("k", ColumnPath("Nope", column=b"c"), "unknown column family"),
        ("", ColumnPath("Std", column=b"c"), "empty"),
        ("k", ColumnPath("Std", super_column=b"sc", column=b"c"), "supercolumn"),
    ]:
        with pytest.raises(InvalidRequest, match=msg):
            engine.get("KS", key, path)


def test_multiget_validates_each_key_and_path(engine):
    with pytest.raises(InvalidRequest, match="empty"):
        engine.multiget("KS", ["k", ""], ColumnPath("Std", column=b"c"))
    with pytest.raises(InvalidRequest, match="unknown column family"):
        engine.multiget("KS", ["k"], ColumnPath("Nope", column=b"c"))


def test_multiget_slice_validates_each_key(engine):
    with pytest.raises(InvalidRequest, match="empty"):
        engine.multiget_slice("KS", ["k", ""], "Std", SlicePredicate(slice_range=SliceRange(count=10)))


def test_get_count_validates_cf(engine):
    with pytest.raises(InvalidRequest, match="unknown column family"):
        engine.get_count("KS", "k", "Nope")


def test_supercolumn_parent_on_standard_cf_rejected(engine):
    # validateColumnParent: a Standard CF is addressed by the CF alone
    pred = SlicePredicate(slice_range=SliceRange(count=10))
    kr = KeyRange(start_token="", end_token="", count=10)
    for call in (
        lambda: engine.get_slice("KS", "k", "Std", pred, super_column=b"sc"),
        lambda: engine.multiget_slice("KS", ["k"], "Std", pred, super_column=b"sc"),
        lambda: engine.get_count("KS", "k", "Std", super_column=b"sc"),
        lambda: engine.get_range_slices("KS", "Std", pred, kr, super_column=b"sc"),
    ):
        with pytest.raises(InvalidRequest, match="supercolumn"):
            call()


def test_get_count_validates_key(engine):
    with pytest.raises(InvalidRequest, match="empty"):
        engine.get_count("KS", "", "Std")


def test_get_range_slices_validates_key_range(engine):
    pred = SlicePredicate(slice_range=SliceRange(count=10))
    with pytest.raises(InvalidRequest, match="count"):
        engine.get_range_slices("KS", "Std", pred, KeyRange(start_token="", end_token="", count=0))
    both = KeyRange(start_key="a", end_key="b", start_token="", end_token="", count=10)
    with pytest.raises(InvalidRequest, match="not both"):
        engine.get_range_slices("KS", "Std", pred, both)


def test_probes_and_splits_validate_cf(engine):
    for call in (
        lambda: engine.rows_may_exist("KS", "Nope", ["k"]),
        lambda: engine.columns_may_exist("KS", "Nope", "k", [b"c"]),
        lambda: engine.describe_splits("KS", "Nope", 10),
    ):
        with pytest.raises(InvalidRequest, match="unknown column family"):
            call()


def test_probes_validate_keys(engine):
    with pytest.raises(InvalidRequest, match="empty"):
        engine.rows_may_exist("KS", "Std", ["k", ""])
    with pytest.raises(InvalidRequest, match="empty"):
        engine.columns_may_exist("KS", "Std", "", [b"c"])
