"""The local gate replica (tools/check_oracle.py) must PREDICT the driver,
not stringify past it: the driver canonicalizes results with pandas
``sort_values``, which crashes on array/struct/map cells (round-5's
``embedding_pq_encode`` red row), so the replica must hard-fail any
non-scalar output column on either side — and every DECLARED gate query
must emit only scalar columns."""

import sys

import pyarrow as pa
import pytest

sys.path.insert(0, "tools")

from check_oracle import nonscalar_arrow_cols, nonscalar_spark_cols  # noqa: E402


def test_spark_array_output_rejected(spark):
    df = spark.createDataFrame([(1, [1, 2])], "id int, codes array<int>")
    assert nonscalar_spark_cols(df.schema) == ["codes"]


def test_spark_struct_and_map_output_rejected(spark):
    df = spark.createDataFrame(
        [(1, (1, 2), {"a": 1})], "id int, s struct<x:int,y:int>, m map<string,int>"
    )
    assert nonscalar_spark_cols(df.schema) == ["s", "m"]


def test_spark_scalar_output_accepted(spark):
    df = spark.createDataFrame([(1, "a", 2.0, b"x")], "id int, s string, d double, b binary")
    assert nonscalar_spark_cols(df.schema) == []


def test_arrow_list_output_rejected():
    tbl = pa.table({"id": [1], "codes": [[1, 2]]})
    assert nonscalar_arrow_cols(tbl.schema) == ["codes"]


def test_arrow_struct_output_rejected():
    tbl = pa.table({"id": [1], "s": [{"x": 1}]})
    assert nonscalar_arrow_cols(tbl.schema) == ["s"]


def test_arrow_scalar_output_accepted():
    tbl = pa.table({"id": [1], "v": [1.5], "s": ["a"]})
    assert nonscalar_arrow_cols(tbl.schema) == []


def test_declared_gate_queries_have_scalar_schemas(spark, tmp_path):
    """Every declared queries() entry must produce a scalar-only schema —
    schema inference only, no execution (the full value gate is
    tools/check_oracle.py)."""
    from __spark_entry__ import queries

    sf_dir = "/root/testdata/sf0.001"
    bad = {}
    for name, fn in queries().items():
        try:
            df = fn(spark, sf_dir)
        except Exception:
            continue  # execution problems are the oracle gate's job
        cols = nonscalar_spark_cols(df.schema)
        if cols:
            bad[name] = cols
    assert not bad, f"gate queries with non-scalar output columns: {bad}"


def test_every_query_builder_and_oracle_is_registered():
    """Spark-free registry guard: a ``q_*`` builder that no QUERIES entry
    names, or an ORACLES entry for an undeclared query, is a retired gate
    left behind — delete it instead of keeping a second, unchecked copy."""
    import inspect

    from apache_cassandra_spark import queries as Q

    builders = {
        name
        for name, fn in vars(Q).items()
        if name.startswith("q_") and inspect.isfunction(fn) and fn.__module__ == Q.__name__
    }
    registered = {fn.__name__ for fn in Q.QUERIES.values()}
    assert builders <= registered, f"unregistered builders: {sorted(builders - registered)}"
    assert set(Q.ORACLES) <= set(Q.QUERIES), f"stray oracles: {sorted(set(Q.ORACLES) - set(Q.QUERIES))}"


def test_row_cache_is_kept_only_by_the_cell_store():
    """Spark-free owner guard: ``CellStore.cf()``'s bind-time freshness
    check is the one place that drops the primed row cache. A writer or an
    operator that invalidates or re-saves it by hand is a second owner
    that can miss a case -- delete the call instead."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "apache_cassandra_spark"
    call = re.compile(r"\b(invalidate_row_cache|save_row_cache)\(")
    hits = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "sources" / "cellstore.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if call.search(line)
    ]
    assert not hits, f"row-cache calls outside sources/cellstore.py: {hits}"


def test_bench_queries_are_unique_and_declared():
    """Spark-free bench-list guard: a renamed or retired query left in
    ``bench.BENCH_QUERIES`` would otherwise surface only as a KeyError
    midway through a bench run, and a duplicate would be timed twice."""
    import collections

    from apache_cassandra_spark.queries import QUERIES
    from bench import BENCH_QUERIES

    dups = sorted(q for q, n in collections.Counter(BENCH_QUERIES).items() if n > 1)
    assert not dups, f"duplicate bench queries: {dups}"
    unknown = sorted(set(BENCH_QUERIES) - set(QUERIES))
    assert not unknown, f"bench queries not in QUERIES: {unknown}"
