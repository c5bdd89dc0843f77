"""The local gate replica (tools/check_oracle.py) must PREDICT the driver,
not stringify past it: the driver canonicalizes results with pandas
``sort_values``, which crashes on array/struct/map cells (round-5's
``embedding_pq_encode`` red row), so the replica must hard-fail any
non-scalar output column on either side — and every DECLARED gate query
must emit only scalar columns."""

import sys
import uuid

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
    """Every declared queries() entry must produce a scalar-only schema.
    The check reads each result's schema and runs no action on it, but it
    calls every builder, and a builder that checkpoints, collects or runs a
    streaming query runs those jobs while it builds: 37 builders ran 284
    jobs at sf0.001, most of this test's time (the full value gate is
    tools/check_oracle.py).

    Each build runs under its own job group, so the same pass keeps lazy
    builders lazy: a builder outside ``queries.EAGER_BUILDERS`` must run
    no job, and a listed one must run at least one, so the list cannot go
    stale. Membership is pinned, not counts: some builders' job counts
    vary between runs."""
    from __spark_entry__ import queries

    from apache_cassandra_spark.queries import EAGER_BUILDERS

    sc = spark.sparkContext
    sf_dir = "/root/testdata/sf0.001"
    bad = {}
    eager, built = set(), set()
    for name, fn in queries().items():
        group = f"build-{uuid.uuid4().hex}"
        sc.setJobGroup(group, name)
        try:
            df = fn(spark, sf_dir)
        except Exception:
            continue  # execution problems are the oracle gate's job
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        built.add(name)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        if sc.statusTracker().getJobIdsForGroup(group):
            eager.add(name)
        cols = nonscalar_spark_cols(df.schema)
        if cols:
            bad[name] = cols
    assert not bad, f"gate queries with non-scalar output columns: {bad}"
    assert not eager - EAGER_BUILDERS, f"builders that now run jobs: {sorted(eager - EAGER_BUILDERS)}"
    idle = (EAGER_BUILDERS & built) - eager
    assert not idle, f"EAGER_BUILDERS entries that ran no job: {sorted(idle)}"


def _gate_modules():
    """Every module under ``apache_cassandra_spark.gates``."""
    import importlib
    import pkgutil

    from apache_cassandra_spark import gates

    return [
        importlib.import_module(f"{gates.__name__}.{m.name}")
        for m in pkgutil.iter_modules(gates.__path__)
    ]


def test_every_query_builder_and_oracle_is_registered():
    """Spark-free registry guard over every gate family module: a ``q_*``
    builder that no QUERIES entry names, or an ORACLES entry for an
    undeclared query, is a retired gate left behind — delete it instead of
    keeping a second, unchecked copy. Each oracle lives in its builder's
    module."""
    import inspect

    from apache_cassandra_spark import queries as Q

    builders = {
        fn
        for mod in _gate_modules()
        for name, fn in vars(mod).items()
        if name.startswith("q_") and inspect.isfunction(fn) and fn.__module__ == mod.__name__
    }
    registered = set(Q.QUERIES.values())
    assert builders == registered, (
        f"unregistered builders: {sorted(f.__name__ for f in builders - registered)}; "
        f"registered outside the gate modules: {sorted(f.__name__ for f in registered - builders)}"
    )
    assert set(Q.ORACLES) <= set(Q.QUERIES), f"stray oracles: {sorted(set(Q.ORACLES) - set(Q.QUERIES))}"
    assert Q.EAGER_BUILDERS <= set(Q.QUERIES), f"stray EAGER_BUILDERS: {sorted(Q.EAGER_BUILDERS - set(Q.QUERIES))}"
    away = sorted(
        name for name in Q.ORACLES
        if name not in sys.modules[Q.QUERIES[name].__module__].ORACLES
    )
    assert not away, f"oracles outside their builder's module: {away}"


def test_each_query_and_oracle_is_defined_by_one_family_module():
    """The registry merges the family modules' dicts, and a merge keeps the
    last of two equal keys without a word. So every ORACLES name must come
    from exactly one family module, and the QUERIES literal must name each
    query once."""
    import ast
    import collections
    import inspect

    from apache_cassandra_spark import queries as Q

    owners = collections.Counter(name for mod in _gate_modules() for name in getattr(mod, "ORACLES", {}))
    assert sorted(n for n, c in owners.items() if c > 1) == []
    assert set(owners) == set(Q.ORACLES)
    literal = next(
        node.value for node in ast.parse(inspect.getsource(Q)).body
        if isinstance(node, ast.AnnAssign) and node.target.id == "QUERIES"
    )
    names = collections.Counter(key.value for key in literal.keys)
    assert sorted(n for n, c in names.items() if c > 1) == []


def test_no_session_keyed_memo_and_no_session_conf_side_effect():
    """Spark-free guard for two package-wide hazards. A module-level dict
    keyed by ``id(...)`` outlives the object the id named: ``id`` reuse
    after ``spark.stop()`` can hand back a frame bound to a dead session.
    And a loader that calls ``.conf.set(...)`` changes the caller's session
    for every later read. Both must stay out of the package."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "apache_cassandra_spark"
    paths = sorted(pkg.rglob("*.py"))
    assert len(paths) > 50, f"package not found under {pkg}"
    hits = []
    for path in paths:
        src = path.read_text()
        rel = path.relative_to(pkg)
        tree = ast.parse(src)
        dicts = {}
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and (
                isinstance(node.value, ast.Dict)
                or (isinstance(node.value, ast.Call) and getattr(node.value.func, "id", None) == "dict")
            ):
                for tgt in node.targets if isinstance(node, ast.Assign) else [node.target]:
                    if isinstance(tgt, ast.Name):
                        dicts[tgt.id] = node.lineno
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            names = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
            calls_id = any(
                isinstance(n, ast.Call) and getattr(n.func, "id", None) == "id" for n in ast.walk(fn)
            )
            if calls_id:
                hits += [f"{rel}:{dicts[d]} dict keyed by id()" for d in sorted(names & set(dicts))]
        hits += [
            f"{rel}:{n.lineno} conf.set"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "set"
            and isinstance(n.func.value, ast.Attribute)
            and n.func.value.attr == "conf"
        ]
    assert not sorted(set(hits)), f"session-keyed memos or session conf writes: {sorted(set(hits))}"


def test_row_cache_is_kept_only_by_the_cell_store():
    """Spark-free owner guard: ``CellStore.cf()``'s bind-time freshness
    check is the one place that refreshes Spark's cached plans over a CF
    directory, which keeps a caller's ``cached_rows()`` frame current. A
    writer or an operator that refreshes by hand is a second owner that
    can miss a case -- delete the call instead."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "apache_cassandra_spark"
    callers = set()
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))

        def visit(node, scope):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.func.attr == "refreshByPath":
                callers.add(f"{rel}:{'.'.join(scope)}")
            if isinstance(node, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
                scope = scope + [node.name]
            for child in ast.iter_child_nodes(node):
                visit(child, scope)

        visit(ast.parse(path.read_text()), [])
    assert callers == {"sources/cellstore.py:CellStore.cf"}


def test_perfbench_tracer_wraps_names_the_package_has(tmp_path):
    """Spark-free guard: the benchmark's tracer wraps package functions and
    ``Engine``/``CellStore`` methods by name, so a rename would surface only
    as a failed benchmark run. Install and uninstall it over an Engine
    bound to no session; every name must resolve, and uninstall must put
    every original back."""
    import importlib

    from apache_cassandra_spark.catalog import Catalog
    from apache_cassandra_spark.engine import Engine
    from apache_cassandra_spark.operators import maintenance, read, write
    from perfbench.spans import Tracer

    engine = Engine(None, str(tmp_path), Catalog.from_dict({"Keyspace1": {"Standard1": {}}}))
    reconcile = importlib.import_module("apache_cassandra_spark.functions.reconcile")
    owners = (engine, engine.store, read, write, reconcile, maintenance)
    before = [dict(vars(o)) for o in owners]
    tracer = Tracer()
    tracer.install_store_layers(engine)
    assert tracer._undo
    tracer.uninstall()
    assert [dict(vars(o)) for o in owners] == before


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
