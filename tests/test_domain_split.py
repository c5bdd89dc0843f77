"""Fork domain-split CFs (CFMetaData.java:49-53, OdklDomainPartitioner):
physical partitioning by key domain + partition pruning on point reads."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from apache_cassandra_spark.catalog import Catalog
from apache_cassandra_spark.engine import Engine
from apache_cassandra_spark.functions.tokens import OdklDomainPartitioner
from apache_cassandra_spark.model import ColumnPath, Mutation, SlicePredicate, SliceRange
from apache_cassandra_spark.operators import read


@pytest.fixture()
def engine(spark, tmp_path):
    catalog = Catalog.from_dict(
        {"KS": {"Dom": {"compare_with": "UTF8Type", "domain_split": True}}}
    )
    return Engine(spark, str(tmp_path), catalog)


@pytest.fixture()
def loaded(engine):
    for key in ["user_ab", "user_cd", "other_ab", "x"]:
        engine.insert("KS", key, ColumnPath("Dom", column=b"c"), key.encode(), 1)
    return engine


def test_domain_split_layout_on_disk(loaded):
    import os

    cells_dir = loaded.store._cells_dir("KS", "Dom")
    doms = sorted(d for d in os.listdir(cells_dir) if d.startswith("_dom="))
    assert doms == ["_dom=0x", "_dom=ab", "_dom=cd"]


def test_point_read_prunes_partitions(loaded):
    cf = loaded.cf("KS", "Dom")
    df = read.get_slice(cf, "user_ab", SlicePredicate(slice_range=SliceRange(count=10)))
    rows = df.collect()
    assert len(rows) == 1 and bytes(rows[0]["value"]) == b"user_ab"
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partition filter on _dom reached the scan
    assert "_dom" in plan and ("PartitionFilters" in plan or "partitionFilters" in plan)


def test_multiget_across_domains(loaded):
    cf = loaded.cf("KS", "Dom")
    pred = SlicePredicate(slice_range=SliceRange(count=10))
    rows = read.multiget_slice(cf, ["user_ab", "user_cd", "nope"], pred).collect()
    assert sorted(r["key"] for r in rows) == ["user_ab", "user_cd"]


def test_lww_and_delete_still_work_on_domain_cf(loaded):
    loaded.insert("KS", "user_ab", ColumnPath("Dom", column=b"c"), b"v2", 5)
    cf = loaded.cf("KS", "Dom")
    r = read.get(cf, "user_ab", ColumnPath("Dom", column=b"c")).collect()
    assert bytes(r[0]["value"]) == b"v2"
    loaded.remove("KS", "user_ab", ColumnPath("Dom"), 9)
    cf = loaded.cf("KS", "Dom")
    assert read.get_count(cf, "user_ab").collect()[0]["count"] == 0


def test_compaction_preserves_domain_layout(loaded):
    import os

    from apache_cassandra_spark.operators.maintenance import compact

    loaded.remove("KS", "x", ColumnPath("Dom"), 5, ldt=100)
    compact(loaded.store, "KS", "Dom", gc_grace_seconds=0)
    meta = loaded.store.compacted_meta("KS", "Dom")
    assert meta["table"] is None  # a _dom-partitioned generation, no catalog table
    gen_dir = os.path.join(loaded.store.root, "KS", "Dom", meta["path"])
    doms = sorted(d for d in os.listdir(gen_dir) if d.startswith("_dom="))
    assert doms == ["_dom=ab", "_dom=cd"]  # 'x' row purged, layout intact
    cells_dir = loaded.store._cells_dir("KS", "Dom")
    assert not [d for d in os.listdir(cells_dir) if d.startswith("_dom=")]  # deltas retired
    cf = loaded.cf("KS", "Dom")
    assert cf.pre_reconciled
    df = read.get_slice(cf, "user_ab", SlicePredicate(slice_range=SliceRange(count=10)))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_dom" in plan and ("PartitionFilters" in plan or "partitionFilters" in plan)
    assert read.get_count(cf, "user_ab").collect()[0]["count"] == 1


def test_range_scan_over_domain_cf(loaded):
    from apache_cassandra_spark.model import KeyRange

    cf = loaded.cf("KS", "Dom")
    pred = SlicePredicate(slice_range=SliceRange(count=10))
    kr = KeyRange(start_token="", end_token="", count=10)
    assert read.get_range_slices(cf, pred, kr).count() == 4


def test_durable_batch_commits_one_file_per_domain(engine, spark):
    """One durable batch_mutate over three domains adds exactly one file
    under each domain's directory. A domain holding characters Spark
    escapes gets the directory name Spark's partitionBy gives it, so
    bulk_load's file for that domain lands beside the commit's."""
    import os

    from apache_cassandra_spark.sources.cellstore import CELL_SCHEMA

    keys = ["user_ab", "other_ab", "user_cd", "user:/"]
    muts = {k: {"Dom": [Mutation(column_name=b"c", value=k.encode(), timestamp=1)]} for k in keys}
    engine.batch_mutate("KS", muts)
    cells_dir = engine.store._cells_dir("KS", "Dom")

    def files_per_domain():
        return {
            d: len([f for f in os.listdir(os.path.join(cells_dir, d)) if f.endswith(".parquet")])
            for d in os.listdir(cells_dir)
            if d.startswith("_dom=")
        }

    assert files_per_domain() == {"_dom=ab": 1, "_dom=cd": 1, "_dom=%3A%2F": 1}
    bulk = spark.createDataFrame([("bulk:/", None, b"c", b"bulk:/", 1, False, None)], CELL_SCHEMA)
    engine.store.bulk_load("KS", "Dom", bulk)
    assert files_per_domain() == {"_dom=ab": 1, "_dom=cd": 1, "_dom=%3A%2F": 2}
    cf = engine.cf("KS", "Dom")
    pred = SlicePredicate(slice_range=SliceRange(count=10))
    for k in keys + ["bulk:/"]:
        assert [bytes(r["value"]) for r in read.get_slice(cf, k, pred).collect()] == [k.encode()]


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=4), min_size=20))
def test_domain_of_matches_the_column_domain(spark, keys):
    """The commit places a cell by ``domain_of(key)`` and reads prune by
    it, while bulk_load and compaction partition by ``domain(col)``: the
    two must agree on every key, 1-character and non-ASCII ones included."""
    p = OdklDomainPartitioner()
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = [tuple(r) for r in df.select("key", p.domain(F.col("key"))).collect()]
    assert got == [(k, p.domain_of(k)) for k in keys]
