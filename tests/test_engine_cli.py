"""Engine facade + CLI grammar parity (cli/Cli.g:100-139 semantics) and
minor compaction / multiget / read-limit additions."""

import pytest

from apache_cassandra_spark.catalog import Catalog
from apache_cassandra_spark.cli import execute
from apache_cassandra_spark.engine import Engine
from apache_cassandra_spark.model import ColumnPath, KeyRange, SlicePredicate, SliceRange
from apache_cassandra_spark.operators import read
from apache_cassandra_spark.operators.maintenance import submit_minor_if_needed
from apache_cassandra_spark.operators.read import ReadLimitExceeded, check_read_limit


@pytest.fixture()
def engine(spark, tmp_path):
    catalog = Catalog.from_dict(
        {
            "Keyspace1": {
                "Standard1": {"compare_with": "UTF8Type"},
                "Super1": {"column_type": "Super", "compare_with": "UTF8Type", "compare_subcolumns_with": "UTF8Type"},
            }
        }
    )
    return Engine(spark, str(tmp_path), catalog)


def test_cli_set_get_count_del(engine):
    assert execute(engine, "SET Keyspace1.Standard1['u1']['name'] = 'alice'") == "ok"
    assert execute(engine, "SET Keyspace1.Standard1['u1']['age'] = '30'") == "ok"
    out = execute(engine, "GET Keyspace1.Standard1['u1']['name']")
    assert "alice" in out
    assert execute(engine, "COUNT Keyspace1.Standard1['u1']") == "2"
    assert execute(engine, "DEL Keyspace1.Standard1['u1']['name']") == "ok"
    assert execute(engine, "COUNT Keyspace1.Standard1['u1']") == "1"
    assert execute(engine, "DEL Keyspace1.Standard1['u1']") == "ok"
    assert execute(engine, "GET Keyspace1.Standard1['u1']") == "not found"


def test_cli_super_paths(engine):
    execute(engine, "SET Keyspace1.Super1['k']['sc1']['c1'] = 'v1'")
    out = execute(engine, "GET Keyspace1.Super1['k']['sc1']['c1']")
    assert "v1" in out
    out = execute(engine, "GET Keyspace1.Super1['k']['sc1']")
    assert "v1" in out


def test_cli_meta(engine):
    assert "Keyspace1" in execute(engine, "SHOW KEYSPACES")
    assert execute(engine, "SHOW CLUSTER NAME") == "pyspark-widecolumn"
    assert "Standard1" in execute(engine, "DESCRIBE KEYSPACE Keyspace1")
    assert "CompareSubcolumnsWith" in execute(engine, "DESCRIBE KEYSPACE Keyspace1")


def test_cli_bad_statement(engine):
    with pytest.raises(ValueError):
        execute(engine, "FROB nothing")


def test_engine_meta_ops(engine):
    assert engine.describe_keyspaces() == ["Keyspace1"]
    assert engine.describe_partitioner() == "RandomPartitioner"
    assert engine.describe_version()
    engine.login("Keyspace1")  # no-op
    assert engine.get_string_property("cluster name") == "pyspark-widecolumn"
    assert engine.get_string_list_property("keyspaces") == ["Keyspace1"]
    with pytest.raises(ValueError):
        engine.get_string_property("nope")


def test_multiget_returns_entry_per_key(engine):
    engine.insert("Keyspace1", "k1", ColumnPath("Standard1", column=b"c"), b"v", 1)
    df = engine.multiget("Keyspace1", ["k1", "missing"], ColumnPath("Standard1", column=b"c"))
    got = {r["key"]: r["value"] for r in df.collect()}
    assert bytes(got["k1"]) == b"v" and got["missing"] is None


def test_multiget_returns_each_repeated_key_once(engine):
    """Thrift's ``multiget`` answers a map keyed by row key: a key named
    twice in the request still gives one entry, on the Engine and on the
    Spark operator."""
    path = ColumnPath("Standard1", column=b"c")
    engine.insert("Keyspace1", "a", path, b"va", 1)
    engine.insert("Keyspace1", "b", path, b"vb", 1)
    keys = ["a", "a", "b", "missing", "missing"]
    for df in (engine.multiget("Keyspace1", keys, path), read.multiget(engine.cf("Keyspace1", "Standard1"), keys, path)):
        got = sorted((r["key"], r["value"] and bytes(r["value"])) for r in df.collect())
        assert got == [("a", b"va"), ("b", b"vb"), ("missing", None)]


def test_read_limit_breaker(engine):
    for i in range(5):
        engine.insert("Keyspace1", "k1", ColumnPath("Standard1", column=f"c{i}".encode()), b"v", 1)
    cf = engine.cf("Keyspace1", "Standard1")
    pred = SlicePredicate(slice_range=SliceRange(count=1000))
    df = read.get_slice(cf, "k1", pred)
    with pytest.raises(ReadLimitExceeded):
        check_read_limit(df, hard_limit=3)
    assert check_read_limit(df, hard_limit=10).count() == 5


def test_minor_compaction_merges_buckets(engine):
    ks, cfn = "Keyspace1", "Standard1"
    for i in range(6):
        engine.insert(ks, "k", ColumnPath(cfn, column=b"c"), f"v{i}".encode(), i)
    import os

    cells_dir = engine.store._cells_dir(ks, cfn)
    before = len([f for f in os.listdir(cells_dir) if f.endswith(".parquet")])
    assert before >= 6
    assert submit_minor_if_needed(engine.store, ks, cfn, min_threshold=4) is True
    after = len([f for f in os.listdir(cells_dir) if f.endswith(".parquet")])
    assert after < before
    # LWW winner preserved through the merge
    r = engine.get("Keyspace1", "k", ColumnPath(cfn, column=b"c")).collect()
    assert len(r) == 1 and bytes(r[0]["value"]) == b"v5"


def test_minor_compaction_keeps_tombstones(engine):
    ks, cfn = "Keyspace1", "Standard1"
    for i in range(4):
        engine.insert(ks, f"k{i}", ColumnPath(cfn, column=b"c"), b"v", 1)
    engine.remove(ks, "k0", ColumnPath(cfn, column=b"c"), 2, ldt=0)
    assert submit_minor_if_needed(engine.store, ks, cfn, min_threshold=4)
    cf = engine.cf(ks, cfn)
    # old tombstone still physically present after minor (no purge)
    assert cf.cells.where("tombstone").count() == 1
    assert read.get_count(cf, "k0").collect()[0]["count"] == 0


def test_no_minor_when_below_threshold(engine):
    engine.insert("Keyspace1", "k", ColumnPath("Standard1", column=b"c"), b"v", 1)
    assert submit_minor_if_needed(engine.store, "Keyspace1", "Standard1", min_threshold=4) is False


def test_engine_join_cf(spark, tmp_path):
    from apache_cassandra_spark.catalog import Catalog
    from apache_cassandra_spark.engine import Engine
    from apache_cassandra_spark.model import ColumnPath

    eng = Engine(
        spark, str(tmp_path / "jstore"),
        Catalog.from_dict({"KS": {"A": {"compare_with": "UTF8Type"},
                                  "B": {"compare_with": "UTF8Type"}}}),
    )
    eng.insert("KS", "k", ColumnPath("A", column=b"c"), b"va", 100)
    eng.insert("KS", "k", ColumnPath("B", column=b"c"), b"vb", 100)
    out = eng.join_cf("KS", "A", "B").collect()
    assert len(out) == 1 and bytes(out[0]["value_a"]) == b"va" and bytes(out[0]["value_b"]) == b"vb"

    import pytest as _pytest
    from apache_cassandra_spark.validation import InvalidRequest

    with _pytest.raises(InvalidRequest):
        eng.join_cf("KS", "A", "Nope")


def test_logout_clears_login_requirement_state(spark, tmp_path):
    """CassandraServer.java:656-680: login sets the session flag, logout
    clears it; under a non-AllowAll authenticator data-plane ops demand a
    completed login, while AllowAll bypasses the check entirely (the
    reference's CASSANDRA-714 interim behavior)."""
    from apache_cassandra_spark.auth import SimpleAuthenticator

    passwd = tmp_path / "passwd.properties"
    passwd.write_text("alice=sekrit\n")
    access = tmp_path / "access.properties"
    access.write_text("Keyspace1=alice\n")
    catalog = Catalog.from_dict({"Keyspace1": {"Standard1": {"compare_with": "UTF8Type"}}})
    eng = Engine(
        spark, str(tmp_path / "auth_store"), catalog,
        authenticator=SimpleAuthenticator(str(passwd), str(access)),
    )
    with pytest.raises(ValueError, match="login required"):
        eng.insert("Keyspace1", "k", ColumnPath("Standard1", column=b"c"), b"v", 1)
    eng.login("Keyspace1", {"username": "alice", "password": "sekrit"})
    eng.insert("Keyspace1", "k", ColumnPath("Standard1", column=b"c"), b"v", 1)
    assert eng.get_count("Keyspace1", "k", "Standard1") == 1
    eng.logout()
    path, pred = ColumnPath("Standard1", column=b"c"), SlicePredicate(slice_range=SliceRange(count=10))
    for read_op in (
        lambda: eng.get("Keyspace1", "k", path),
        lambda: eng.get_slice("Keyspace1", "k", "Standard1", pred),
        lambda: eng.multiget("Keyspace1", ["k"], path),
        lambda: eng.multiget_slice("Keyspace1", ["k"], "Standard1", pred),
        lambda: eng.get_count("Keyspace1", "k", "Standard1"),
        lambda: eng.get_range_slices("Keyspace1", "Standard1", pred, KeyRange(start_key="", end_key="", count=10)),
    ):
        with pytest.raises(ValueError, match="login required"):
            read_op()
    # re-login restores access (the flag is session state, nothing else)
    eng.login("Keyspace1", {"username": "alice", "password": "sekrit"})
    assert eng.get_count("Keyspace1", "k", "Standard1") == 1


def test_allowall_engine_never_requires_login(engine):
    engine.logout()  # no-op under AllowAll
    assert execute(engine, "SET Keyspace1.Standard1['u9']['c'] = 'v'") == "ok"


def test_cli_connect_switches_stores(spark, tmp_path):
    """cli/Cli.g:85-86 CONNECT analog: the session rebinds to another
    store root using the catalog + cluster name the engine persisted
    there; statements after CONNECT hit the new store."""
    from apache_cassandra_spark.cli import CliSession

    cat_a = Catalog.from_dict({"KSA": {"CF": {"compare_with": "UTF8Type"}}})
    cat_b = Catalog.from_dict({"KSB": {"CF": {"compare_with": "UTF8Type"}}})
    eng_a = Engine(spark, str(tmp_path / "a"), cat_a, cluster_name="ClusterA")
    eng_b = Engine(spark, str(tmp_path / "b"), cat_b, cluster_name="ClusterB")
    eng_b.insert("KSB", "k", ColumnPath("CF", column=b"c"), b"vb", 1)

    session = CliSession(spark, eng_a)
    assert session.execute("SHOW CLUSTER NAME") == "ClusterA"
    out = session.execute(f"CONNECT {tmp_path / 'b'}")
    assert out.startswith('Connected to "ClusterB"')
    assert session.execute("SHOW CLUSTER NAME") == "ClusterB"
    assert session.execute("SHOW KEYSPACES") == "KSB"
    assert "vb" in session.execute("GET KSB.CF['k']['c']")
    with pytest.raises(ValueError, match="no store"):
        session.execute(f"CONNECT {tmp_path / 'missing'}")


def test_cli_session_requires_connection(spark):
    from apache_cassandra_spark.cli import CliSession

    with pytest.raises(ValueError, match="not connected"):
        CliSession(spark).execute("SHOW KEYSPACES")


def test_cli_connect_restores_store_partitioner(spark, tmp_path):
    """Partitioner is STORE state: CONNECT restores it from cluster.json.
    A legacy store without the field restores as pre-field stores opened
    (RandomPartitioner default, with a warning) — the session's
    partitioner never cross-contaminates the connection; an UNKNOWN
    persisted name refuses loudly."""
    import json
    import os

    from apache_cassandra_spark.cli import CliSession
    from apache_cassandra_spark.functions.tokens import OrderPreservingPartitioner

    cat = Catalog.from_dict({"KS": {"CF": {"compare_with": "UTF8Type"}}})
    Engine(spark, str(tmp_path / "opp"), cat, partitioner=OrderPreservingPartitioner())
    session = CliSession(spark)
    session.execute(f"CONNECT {tmp_path / 'opp'}")
    assert session.engine.partitioner.name == "OrderPreservingPartitioner"

    # legacy store: strip the partitioner field from cluster.json — it
    # restores like a pre-field store (RandomPartitioner default) and the
    # SESSION partitioner never cross-contaminates the connection
    Engine(spark, str(tmp_path / "legacy"), cat, partitioner=OrderPreservingPartitioner())
    cl = os.path.join(tmp_path / "legacy", "cluster.json")
    meta = json.load(open(cl))
    del meta["partitioner"]
    json.dump(meta, open(cl, "w"))
    opp_session = CliSession(
        spark, Engine(spark, str(tmp_path / "opp2"), cat, partitioner=OrderPreservingPartitioner())
    )
    opp_session.execute(f"CONNECT {tmp_path / 'legacy'}")
    assert opp_session.engine.partitioner.name == "RandomPartitioner"

    # unknown partitioner name: refuse loudly rather than misread tokens
    meta["partitioner"] = "MyCustomPartitioner"
    json.dump(meta, open(cl, "w"))
    with pytest.raises(ValueError, match="not registered"):
        session.execute(f"CONNECT {tmp_path / 'legacy'}")
