"""CellStore write path, compaction, row processors, export/import,
existence probes — mirrors db/CompactionsPurgeTest.java,
db/CompactionRowProcTest.java:39, db/ColumnFamilyStoreTest.java:147,172."""

import os
import time
import uuid
from collections import Counter

import pytest

from apache_cassandra_spark.catalog import Catalog
from apache_cassandra_spark.engine import Engine
from apache_cassandra_spark.model import ColumnPath, Deletion, KeyRange, Mutation, SlicePredicate, SliceRange
from apache_cassandra_spark.operators import exists, maintenance, read, write
from apache_cassandra_spark.sources import cellstore
from apache_cassandra_spark.sources.cellstore import CELL_SCHEMA, CONTAINER_TOMBSTONE_SCHEMA, MARKER, CellStore


@pytest.fixture()
def store(spark, tmp_path):
    catalog = Catalog.from_dict(
        {
            "Keyspace1": {
                "Standard1": {"compare_with": "BytesType"},
                "Proc1": {"compare_with": "BytesType", "row_processors": ["RemoveDeleted"]},
                "FlushProc1": {"compare_with": "BytesType", "row_processors": ["DropMarked", "RemoveDeleted"]},
                "Dom1": {"compare_with": "BytesType", "domain_split": True},
                "Super1": {"column_type": "Super", "compare_with": "BytesType", "compare_subcolumns_with": "BytesType"},
            }
        }
    )
    return CellStore(spark, str(tmp_path), catalog)


def test_insert_then_get(store):
    store.apply("Keyspace1", "Standard1", write.insert("k1", ColumnPath("Standard1", column=b"c1"), b"v1", 1))
    cf = store.cf("Keyspace1", "Standard1")
    rows = read.get(cf, "k1", ColumnPath("Standard1", column=b"c1")).collect()
    assert len(rows) == 1 and bytes(rows[0]["value"]) == b"v1"


def test_memtable_buffer_visible_to_reads(store):
    store.apply(
        "Keyspace1", "Standard1", write.insert("k1", ColumnPath("Standard1", column=b"c1"), b"v1", 1), durable=False
    )
    cf = store.cf("Keyspace1", "Standard1")
    assert read.get(cf, "k1", ColumnPath("Standard1", column=b"c1")).count() == 1
    store.flush()
    assert read.get(store.cf("Keyspace1", "Standard1"), "k1", ColumnPath("Standard1", column=b"c1")).count() == 1


def test_remove_column_then_row(store):
    ks, cfn = "Keyspace1", "Standard1"
    store.apply(ks, cfn, write.insert("k1", ColumnPath(cfn, column=b"c1"), b"v1", 1))
    store.apply(ks, cfn, write.insert("k1", ColumnPath(cfn, column=b"c2"), b"v2", 1))
    store.apply(ks, cfn, write.remove("k1", ColumnPath(cfn, column=b"c1"), 2))
    cf = store.cf(ks, cfn)
    assert read.get_count(cf, "k1").collect()[0]["count"] == 1
    store.apply(ks, cfn, write.remove("k1", ColumnPath(cfn), 3))
    cf = store.cf(ks, cfn)
    assert read.get_count(cf, "k1").collect()[0]["count"] == 0


def test_batch_mutate_roundtrip(store):
    ks, cfn = "Keyspace1", "Standard1"
    batches = write.batch_mutate(
        {
            "k1": {
                cfn: [
                    Mutation(column_name=b"c1", value=b"v1", timestamp=1),
                    Mutation(column_name=b"c2", value=b"v2", timestamp=1),
                ]
            },
            "k2": {cfn: [Mutation(deletion=Deletion(timestamp=5))]},
        }
    )
    for name, b in batches.items():
        store.apply(ks, name, b)
    cf = store.cf(ks, cfn)
    pred = SlicePredicate(slice_range=SliceRange(count=100))
    assert read.get_slice(cf, "k1", pred).count() == 2
    assert read.get_slice(cf, "k2", pred).count() == 0


def test_batch_insert_w2(store):
    ks = "Keyspace1"
    batches = write.batch_insert(
        "k9",
        {
            "Standard1": [Mutation(column_name=b"c1", value=b"v1", timestamp=1)],
            "Proc1": [Mutation(column_name=b"c2", value=b"v2", timestamp=1)],
        },
    )
    for cf_name, b in batches.items():
        store.apply(ks, cf_name, b)
    assert read.get_count(store.cf(ks, "Standard1"), "k9").collect()[0]["count"] == 1
    assert read.get_count(store.cf(ks, "Proc1"), "k9").collect()[0]["count"] == 1


def test_compaction_purges_old_tombstones(store):
    ks, cfn = "Keyspace1", "Standard1"
    store.apply(ks, cfn, write.insert("k1", ColumnPath(cfn, column=b"c1"), b"v1", 1))
    store.apply(ks, cfn, write.remove("k1", ColumnPath(cfn, column=b"c1"), 2, local_deletion_time=100))
    store.apply(ks, cfn, write.insert("k2", ColumnPath(cfn, column=b"c1"), b"v1", 1))
    maintenance.compact(store, ks, cfn, gc_grace_seconds=0)
    cf = store.cf(ks, cfn)
    # tombstone + shadowed cell physically gone, live cell kept
    assert cf.cells.count() == 1
    assert read.get_count(cf, "k2").collect()[0]["count"] == 1


def test_compaction_keeps_young_tombstones(store):
    import time

    ks, cfn = "Keyspace1", "Standard1"
    now = int(time.time())
    store.apply(ks, cfn, write.insert("k1", ColumnPath(cfn, column=b"c1"), b"v1", 1))
    store.apply(ks, cfn, write.remove("k1", ColumnPath(cfn, column=b"c1"), 2, local_deletion_time=now))
    maintenance.compact(store, ks, cfn, gc_grace_seconds=3600)
    cf = store.cf(ks, cfn)
    assert cf.cells.count() == 1  # the young tombstone survives
    assert cf.cells.collect()[0]["tombstone"] is True


def test_compaction_kept_tombstones_are_sorted_and_repeatable(spark, tmp_path):
    """A major compaction writes the container tombstones it keeps into the
    generation as marker cells: each in its key's bucket file, sorted there
    by (key, sc, column) with the cells. Two stores given the same writes,
    whose uuid-named delta inputs list in different orders, write the same
    rows to each bucket file."""
    import pyarrow.parquet as pq

    from apache_cassandra_spark.sources.cellstore import spark_bucket

    ks, cfn = "Keyspace1", "Standard1"
    catalog = Catalog.from_dict({ks: {cfn: {"compare_with": "BytesType"}}})
    kept = []
    for name in ("a", "b"):
        s = CellStore(spark, str(tmp_path / name), catalog)
        for i in range(8):
            key = f"k{i * 3 % 5}"
            s.apply(ks, cfn, write.insert(key, ColumnPath(cfn, column=b"c"), b"v", i))
            s.apply(ks, cfn, write.remove(key, ColumnPath(cfn), i + 1, local_deletion_time=100 + i))
        maintenance.compact(s, ks, cfn, gc_grace_seconds=0, now=50, buckets=4)  # keeps every tombstone
        gen, files = s.compacted_meta(ks, cfn)["path"], {}
        for rel in s._files(ks, cfn, gen):
            table = pq.read_table(os.path.join(s._cf_dir(ks, cfn), rel))
            rows = [(r["key"], r["column"], r["ts"], r["ldt"]) for r in table.to_pylist()]
            assert [r[:2] for r in rows] == sorted(r[:2] for r in rows)
            assert {spark_bucket(r[0], 4) for r in rows} == {int(rel.split("_")[-1].split(".")[0])}
            files[rel.split("_")[-1]] = Counter(rows)
        rows = [r for bucket in files.values() for r in bucket.elements()]
        assert len(rows) == 8 and all(r[1] == MARKER for r in rows)  # every cell was shadowed
        kept.append(files)
    assert kept[0] == kept[1]


def test_row_processor_chain_from_catalog(store):
    ks, cfn = "Keyspace1", "Proc1"
    store.apply(ks, cfn, write.insert("k1", ColumnPath(cfn, column=b"c1"), b"v1", 1))
    store.apply(ks, cfn, write.remove("k1", ColumnPath(cfn, column=b"c2"), 2, local_deletion_time=2**31 - 10))
    maintenance.compact(store, ks, cfn, gc_grace_seconds=10**9)
    cf = store.cf(ks, cfn)
    # RemoveDeleted row processor dropped the young tombstone anyway
    assert [bytes(r["column"]) for r in cf.cells.collect()] == [b"c1"]


@pytest.fixture()
def drop_marked_processor():
    """Flush-capable dropping processor (shouldProcessIncomplete=true —
    IRowProcessor.java:26-29 case 3, the only way to get control when the
    memtable is flushing)."""

    def drop_marked(pdf):
        # tombstone cells carry value=None — never "marked"
        return pdf[[v is None or bytes(v) != b"DROPME" for v in pdf["value"]]]

    maintenance.register_row_processor("DropMarked", drop_marked, process_incomplete=True)
    yield
    maintenance._ROW_PROCESSORS.pop("DropMarked", None)


def test_flush_time_processor_drops_cells_at_first_flush(store, drop_marked_processor):
    """db/Memtable.java:165-187: a dropping processor's cells must never
    reach storage — gone from raw-cell probes at FIRST FLUSH, not first
    compaction (the round-9 divergence window)."""
    ks, cfn = "Keyspace1", "FlushProc1"
    store.apply(ks, cfn, write.insert("k1", ColumnPath(cfn, column=b"c1"), b"keepme", 1), durable=False)
    store.apply(ks, cfn, write.insert("k1", ColumnPath(cfn, column=b"c2"), b"DROPME", 1), durable=False)
    store.apply(ks, cfn, write.insert("k2", ColumnPath(cfn, column=b"c1"), b"DROPME", 1), durable=False)
    store.flush()
    cf = store.cf(ks, cfn)
    raw = [(r["key"], bytes(r["column"])) for r in cf.cells.collect()]
    assert raw == [("k1", b"c1")]  # k2's whole row vanished pre-storage
    # raw-cell existence probes never see the dropped cells
    flags = {r["key"]: r["may_exist"] for r in exists.rows_may_exist(cf, ["k1", "k2"]).collect()}
    assert flags == {"k1": True, "k2": False}


def test_flush_time_processor_applies_on_durable_commit_too(store, drop_marked_processor):
    """durable=True commits are the same memtable→storage write, just
    batch-sized — the flush chain guards every cell write path."""
    ks, cfn = "Keyspace1", "FlushProc1"
    store.apply(ks, cfn, write.insert("k1", ColumnPath(cfn, column=b"c1"), b"DROPME", 1))
    cf = store.cf(ks, cfn)
    assert cf.cells.count() == 0


def test_flush_skips_processors_that_refuse_incomplete_rows(store, drop_marked_processor):
    """RemoveDeleted registers shouldProcessIncomplete=false
    (RemoveDeletedRowProcessor.java:52-55): running it at flush would
    resurrect older shadowed cells. The chain must skip it in place at
    flush (RowProcessorChain.java:132-136) and still run it at major
    compaction."""
    ks, cfn = "Keyspace1", "FlushProc1"
    store.apply(ks, cfn, write.insert("k1", ColumnPath(cfn, column=b"c1"), b"keepme", 1), durable=False)
    store.apply(ks, cfn, write.remove("k1", ColumnPath(cfn, column=b"c1"), 2, local_deletion_time=2**31 - 10), durable=False)
    store.flush()
    cf = store.cf(ks, cfn)
    # the young tombstone SURVIVES flush (DropMarked doesn't match it,
    # RemoveDeleted was skipped) — it must keep shadowing older cells
    flags = sorted(r["tombstone"] for r in cf.cells.collect())
    assert flags == [False, True]  # both generations on disk
    maintenance.compact(store, ks, cfn, gc_grace_seconds=10**9)
    cf = store.cf(ks, cfn)
    # compaction runs the full chain: RemoveDeleted drops the tombstone
    assert cf.cells.count() == 0


def test_custom_row_processor_drops_rows(store):
    ks, cfn = "Keyspace1", "Standard1"
    for k in ("keep", "drop"):
        store.apply(ks, cfn, write.insert(k, ColumnPath(cfn, column=b"c1"), b"v1", 1))

    def only_keep(pdf):
        return pdf if (pdf["key"] == "keep").all() else None

    maintenance.compact(store, ks, cfn, row_processor=only_keep)
    cf = store.cf(ks, cfn)
    assert [r["key"] for r in cf.cells.collect()] == ["keep"]


def test_cleanup_restricted_rewrite(store, spark):
    from pyspark.sql import functions as F

    ks, cfn = "Keyspace1", "Standard1"
    for k in ("a1", "b2"):
        store.apply(ks, cfn, write.insert(k, ColumnPath(cfn, column=b"c1"), b"v1", 1))
    maintenance.cleanup(store, ks, cfn, key_pred=F.col("key").startswith("a"))
    assert [r["key"] for r in store.cf(ks, cfn).cells.collect()] == ["a1"]


def test_export_import_roundtrip(store, spark, tmp_path):
    ks, cfn = "Keyspace1", "Standard1"
    store.apply(ks, cfn, write.insert("k1", ColumnPath(cfn, column=b"c1"), b"v1", 1))
    cf = store.cf(ks, cfn)
    path = str(tmp_path / "export")
    maintenance.export_json(cf.cells, path)
    back = maintenance.import_json(spark, path)
    rows = back.collect()
    assert len(rows) == 1 and bytes(rows[0]["value"]) == b"v1" and rows[0]["ts"] == 1


def test_snapshot_hardlinks(store, spark):
    import json
    import os

    ks, cfn = "Keyspace1", "Standard1"
    store.apply(ks, cfn, write.insert("k1", ColumnPath(cfn, column=b"c1"), b"v1", 1))
    dst = maintenance.snapshot(store, ks, cfn, "tag1")
    assert any(f.endswith(".parquet") for f in os.listdir(dst))
    # a row delete is a marker cell in cells/: a snapshot without it would
    # bring the deleted row back on restore
    store.apply(ks, cfn, write.remove("k1", ColumnPath(cfn), 2))
    dst = maintenance.snapshot(store, ks, cfn, "tag2")
    cells = sorted((r["key"], bytes(r["column"])) for r in spark.read.parquet(dst).collect())
    assert cells == [("k1", b""), ("k1", b"c1")]
    # after a compaction the snapshot links the generation, which keeps the
    # row delete inside grace, and its pointer
    store.apply(ks, cfn, write.insert("k2", ColumnPath(cfn, column=b"c1"), b"v2", 1))
    maintenance.compact(store, ks, cfn)
    dst = maintenance.snapshot(store, ks, cfn, "tag3")
    with open(os.path.join(dst, "COMPACTED.json")) as fh:
        gen = os.path.join(dst, json.load(fh)["path"])
    cells = sorted((r["key"], bytes(r["column"])) for r in spark.read.parquet(gen).collect())
    assert cells == [("k1", b""), ("k2", b"c1")]


class Crash(Exception):
    pass


def _torn_write(table, where, **kwargs):
    """``pq.write_table`` cut short by a crash after its first bytes."""
    where.write(b"PAR1 torn")
    raise Crash


def _live(store, ks, cfn):
    return sorted(
        (r["key"], bytes(r["column"]), bytes(r["value"])) for r in store.cf(ks, cfn).live().collect()
    )


@pytest.mark.parametrize("cfn", ["Standard1", "Dom1"])
@pytest.mark.parametrize("crash", ["before_flip", "after_flip", "mid_retire"])
def test_compaction_crash_leaves_pre_or_post_state(store, spark, monkeypatch, cfn, crash):
    """Major compaction's pointer flip is its only commit point. Compaction
    1 keeps a cell tombstone (ts 10) and two row tombstones; late writes at
    ts 5 land in a delta behind them. Compaction 2 purges the old
    tombstones, so a consumed delta left beside its output would resurrect
    the late writes. Whatever step it dies at, a reopened store reads the
    pre- or post-compaction state (the same live view)."""
    import os

    ks = "Keyspace1"
    c, row = ColumnPath(cfn, column=b"c"), ColumnPath(cfn)
    batch = write.insert("live", c, b"v", 1)
    for m in (
        write.insert("k", c, b"v", 1),
        write.remove("k", c, 10, local_deletion_time=100),
        write.insert("gone", c, b"v", 1),
        write.remove("gone", row, 10, local_deletion_time=100),
        write.insert("young", c, b"v", 1),
        write.remove("young", row, 10, local_deletion_time=2**31 - 10),
    ):
        batch.extend(m)
    store.apply(ks, cfn, batch)
    maintenance.compact(store, ks, cfn, gc_grace_seconds=0, now=50)  # keeps every tombstone
    late = write.insert("k", c, b"late", 5)
    for k in ("gone", "young"):
        late.extend(write.insert(k, c, b"late", 5))
    store.apply(ks, cfn, late)
    model = [("live", b"c", b"v")]

    flip = store.write_compacted_meta
    removed = []

    def fail_before_flip(*args):
        raise Crash

    def fail_after_flip(*args):
        flip(*args)
        raise Crash

    def fail_second_remove(path, real_remove=os.remove):
        if path.startswith(store.root):
            removed.append(path)
            if len(removed) == 2:
                raise Crash
        real_remove(path)

    with monkeypatch.context() as m:
        if crash == "before_flip":
            m.setattr(store, "write_compacted_meta", fail_before_flip)
        elif crash == "after_flip":
            m.setattr(store, "write_compacted_meta", fail_after_flip)
        else:
            m.setattr(os, "remove", fail_second_remove)
        with pytest.raises(Crash):
            maintenance.compact(store, ks, cfn, gc_grace_seconds=0)

    # the first read is an Engine key read, which binds no CF: it finishes
    # a cut-short retirement itself and never reads a consumed delta
    # beside the new generation (no b"late")
    engine = Engine(spark, store.root, store.catalog)
    everything = SlicePredicate(slice_range=SliceRange(count=10))
    rows = engine.multiget_slice(ks, ["k", "gone", "young", "live"], cfn, everything).collect()
    assert [(r["key"], bytes(r["column"]), bytes(r["value"])) for r in rows] == model
    assert "retire" not in engine.store.compacted_meta(ks, cfn)
    reopened = CellStore(spark, store.root, store.catalog)
    assert _live(reopened, ks, cfn) == model
    # before the flip the pointer still names compaction 1's generation
    meta = reopened.compacted_meta(ks, cfn)
    assert "retire" not in meta and meta["gen"] == (1 if crash == "before_flip" else 2)


def test_minor_compaction_merges_each_domain_in_its_own_directory(store):
    """A domain-split CF's ``_dom=`` directories are separate size-tiered
    pools: two similar files in one domain merge inside it, the other
    domain's lone file stays, and nothing is left staged."""
    ks, cfn = "Keyspace1", "Dom1"
    c = ColumnPath(cfn, column=b"c")
    for key, value, ts in (("k1_ab", b"v1", 1), ("k1_ab", b"v2", 2), ("k2_ab", b"v3", 1), ("k3_cd", b"v4", 1)):
        store.apply(ks, cfn, write.insert(key, c, value, ts))
    keys = ("k1_ab", "k2_ab", "k3_cd")

    def points():
        cf = store.cf(ks, cfn)
        return {k: [bytes(r["value"]) for r in read.get(cf, k, c).collect()] for k in keys}

    before, files = points(), _store_files(store, ks, cfn)
    other = [f for f in files if "_dom=cd" in f]
    assert len(files) == 4 and len(other) == 1
    assert maintenance.submit_minor_if_needed(store, ks, cfn, min_threshold=2)
    after = _store_files(store, ks, cfn)
    merged = [f for f in after if f not in files]
    assert len(merged) == 1 and merged[0].startswith(os.path.join("cells", "_dom=ab", ""))
    assert after == sorted(merged + other) and all(f.endswith(".parquet") for f in after)
    assert points() == before == {"k1_ab": [b"v2"], "k2_ab": [b"v3"], "k3_cd": [b"v4"]}


@pytest.mark.skipif(not os.path.isdir("/proc/self/fd"), reason="maps an fsynced descriptor to its path")
@pytest.mark.parametrize("cfn", ["Standard1", "Dom1"])
@pytest.mark.parametrize("kind", ["minor", "major"])
def test_compaction_outputs_are_fsynced_before_inputs_are_removed(store, monkeypatch, kind, cfn):
    """Spark does not fsync the files it writes. Before a compaction
    removes its first input, each output file and the directories holding
    it are fsynced, and so are a major compaction's pointer and the CF
    directory it is renamed in. A file fsynced under a temp name and then
    renamed counts as fsynced under its new name."""
    ks = "Keyspace1"
    c = ColumnPath(cfn, column=b"c")
    store.apply(ks, cfn, write.insert("k1_ab", c, b"v1", 1))
    store.apply(ks, cfn, write.insert("k2_ab", c, b"v2", 1))
    store.apply(ks, cfn, write.remove("k3_ab", ColumnPath(cfn), 3, local_deletion_time=2**31 - 10))
    base = os.path.realpath(store._cf_dir(ks, cfn))
    cells_before = set(store._files(ks, cfn, "cells"))
    events = []
    real_fsync, real_remove, real_replace = os.fsync, os.remove, os.replace

    def fsync(fd):
        events.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        real_fsync(fd)

    def remove(path):
        events.append(("remove", os.path.realpath(path)))
        real_remove(path)

    def replace(src, dst):
        events.append(("replace", (os.path.realpath(src), os.path.realpath(dst))))
        real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "fsync", fsync)
        m.setattr(os, "remove", remove)
        m.setattr(os, "replace", replace)
        if kind == "minor":
            assert maintenance.submit_minor_if_needed(store, ks, cfn, min_threshold=2)
        else:
            maintenance.compact(store, ks, cfn)
    if kind == "minor":
        outputs = sorted(set(store._files(ks, cfn, "cells")) - cells_before)
        assert len(outputs) == 1
        assert all(f.endswith(".parquet") for f in _store_files(store, ks, cfn))
        required = outputs + [os.path.dirname(outputs[0])]
    else:
        gen = store.compacted_meta(ks, cfn)["path"]
        outputs = store._files(ks, cfn, gen)
        required = outputs + [os.path.dirname(f) for f in outputs] + [gen, "COMPACTED.json.tmp", "."]
    assert outputs
    first_remove = next(i for i, (op, path) in enumerate(events) if op == "remove" and path.startswith(base))
    synced = set()
    for op, path in events[:first_remove]:
        if op == "fsync":
            synced.add(os.path.realpath(path))
        elif op == "replace" and path[0] in synced:
            synced.add(path[1])
    missing = sorted(p for p in required if os.path.realpath(os.path.join(base, p)) not in synced)
    assert not missing, f"not fsynced before the first input was removed: {missing}"


@pytest.mark.parametrize("crash", ["temp_write", "before_replace"])
def test_minor_crash_leaves_pre_state(store, spark, monkeypatch, crash):
    """Minor compaction commits its merged file as a durable commit does:
    a crash while it is written or before its rename leaves every input
    and one hidden temp file. A reopened store reads the pre-state; no
    reader -- the bind, a key read, snapshot, major compaction -- takes the
    temp file for data, and the next minor compaction merges."""
    import pyarrow.parquet as pq

    ks, cfn = "Keyspace1", "Standard1"
    c = ColumnPath(cfn, column=b"c")
    store.apply(ks, cfn, write.insert("k", c, b"v1", 1))
    store.apply(ks, cfn, write.insert("k", c, b"v2", 2))
    store.apply(ks, cfn, write.insert("other", c, b"v", 1))
    store.apply(ks, cfn, write.remove("other", c, 3, local_deletion_time=2**31 - 10))
    pre, inputs = _live(store, ks, cfn), _store_files(store, ks, cfn)
    pre_cells = Counter(store.key_cells(ks, cfn, ["k", "other"])[0])

    def fail_replace(src, dst):
        raise Crash

    with monkeypatch.context() as m:
        if crash == "temp_write":
            m.setattr(pq, "write_table", _torn_write)
        else:
            m.setattr(os, "replace", fail_replace)
        with pytest.raises(Crash):
            maintenance.submit_minor_if_needed(store, ks, cfn, min_threshold=2)
    files = _store_files(store, ks, cfn)
    temps = [f for f in files if not f.endswith(".parquet")]
    assert len(temps) == 1 and os.path.basename(temps[0]).startswith(".")
    assert [f for f in files if f.endswith(".parquet")] == inputs

    reopened = CellStore(spark, store.root, store.catalog)
    assert _live(reopened, ks, cfn) == pre
    assert Counter(reopened.key_cells(ks, cfn, ["k", "other"])[0]) == pre_cells
    snap = maintenance.snapshot(reopened, ks, cfn, "after_crash")
    assert all(f.endswith(".parquet") for _, _, fs in os.walk(snap) for f in fs)
    assert maintenance.submit_minor_if_needed(reopened, ks, cfn, min_threshold=2)
    assert _live(reopened, ks, cfn) == pre
    maintenance.compact(reopened, ks, cfn)
    assert _live(CellStore(spark, store.root, store.catalog), ks, cfn) == pre


@pytest.mark.parametrize("cfn", ["Standard1", "Dom1"])
def test_major_compaction_removes_temp_files_that_crashed_commits_left(store, spark, cfn):
    """A crashed commit or minor compaction leaves a hidden temp file in
    ``cells/`` (under ``_dom=`` too) that no reader lists.
    Major compaction removes those last written before the store module
    was imported (backdated here); a fresh one may belong to a commit that
    is still running, so it stays. Reads are unchanged."""
    ks = "Keyspace1"
    store.apply(ks, cfn, write.insert("k", ColumnPath(cfn, column=b"c"), b"v", 1))
    store.apply(ks, cfn, write.remove("gone", ColumnPath(cfn), 2, local_deletion_time=2**31 - 10))
    base = store._cf_dir(ks, cfn)
    data_dir = next(os.path.dirname(f) for f in _store_files(store, ks, cfn) if f.startswith("cells"))

    def temp(rel):
        path = os.path.join(base, rel, f".part-{uuid.uuid4()}.zstd.parquet.tmp")
        with open(path, "wb") as fh:
            fh.write(b"PAR1 torn")
        return path

    stale = [temp(data_dir), temp("cells")]
    for path in stale:
        os.utime(path, (time.time() - 86400,) * 2)
    fresh = [temp("cells"), temp(data_dir)]
    pre = _live(store, ks, cfn)
    pre_cells = Counter(store.key_cells(ks, cfn, ["k", "gone"])[0])

    maintenance.compact(store, ks, cfn)
    assert [p for p in stale if os.path.exists(p)] == []
    assert all(os.path.exists(p) for p in fresh)
    reopened = CellStore(spark, store.root, store.catalog)
    assert _live(reopened, ks, cfn) == pre
    assert Counter(reopened.key_cells(ks, cfn, ["k", "gone"])[0]) == pre_cells


def test_major_compaction_keeps_a_running_commits_temp_file_in_a_retired_domain(store, spark):
    """Retiring a ``_dom=`` directory's data files deletes them by name and
    removes the directory only once that leaves it empty: a fresh temp file
    there belongs to a commit still running, so it and its directory stay."""
    ks, cfn = "Keyspace1", "Dom1"
    store.apply(ks, cfn, write.insert("k", ColumnPath(cfn, column=b"c"), b"v", 1))
    data_dir = os.path.join(store._cf_dir(ks, cfn), os.path.dirname(store._files(ks, cfn, "cells")[0]))
    assert "_dom=" in data_dir
    running = os.path.join(data_dir, f".part-{uuid.uuid4()}.zstd.parquet.tmp")
    with open(running, "wb") as fh:
        fh.write(b"PAR1 torn")
    pre = _live(store, ks, cfn)

    maintenance.compact(store, ks, cfn)
    assert store._files(ks, cfn, "cells") == []
    assert os.listdir(data_dir) == [os.path.basename(running)]
    assert _live(CellStore(spark, store.root, store.catalog), ks, cfn) == pre


@pytest.mark.parametrize("cfn", ["Standard1", "Dom1"])
def test_major_compaction_retires_the_checksum_sidecars_of_what_it_retires(store, spark, cfn):
    """Spark's writer leaves a ``.{name}.crc`` beside each file it writes
    (``bulk_load`` cells); a compaction that retires the file retires its
    sidecar too."""
    ks = "Keyspace1"
    rows = [(f"k{i}", None, b"c", b"v", 1, False, None) for i in range(4)]
    store.bulk_load(ks, cfn, spark.createDataFrame(rows, CELL_SCHEMA))
    store.apply(ks, cfn, write.remove("k0", ColumnPath(cfn), 2, local_deletion_time=2**31 - 10))
    base = store._cf_dir(ks, cfn)
    crcs = [f for f in _store_files(store, ks, cfn) if f.endswith(".parquet.crc")]
    assert crcs  # bulk_load's sidecars
    maintenance.compact(store, ks, cfn)
    assert [f for f in crcs if os.path.exists(os.path.join(base, f))] == []
    crcs = [f for f in _store_files(store, ks, cfn) if f.endswith(".crc")]
    orphans = [f for f in crcs if not os.path.exists(os.path.join(base, os.path.dirname(f), os.path.basename(f)[1:-4]))]
    assert orphans == []


def test_minor_merges_at_most_memtable_threshold_rows(store, spark):
    """The driver holds a minor merge's rows, so a size tier is trimmed to
    ``memtable_threshold`` rows by its files' footers: two bulk-loaded
    files of 8 rows stay apart under a threshold of 10 and merge under the
    default."""
    ks, cfn = "Keyspace1", "Standard1"
    for ts in (1, 2):
        rows = [(f"k{i}", None, b"c", f"v{ts}".encode(), ts, False, None) for i in range(8)]
        store.bulk_load(ks, cfn, spark.createDataFrame(rows, CELL_SCHEMA).coalesce(1))

    def stats():
        paths = [os.path.join(store._cf_dir(ks, cfn), f) for f in store._files(ks, cfn, "cells")]
        return {p: (os.stat(p).st_size, os.stat(p).st_mtime_ns) for p in paths}

    files = stats()
    assert len(files) == 2
    small = CellStore(spark, store.root, store.catalog, memtable_threshold=10)
    before = _live(small, ks, cfn)
    assert before == [(f"k{i}", b"c", b"v2") for i in range(8)]
    assert maintenance.submit_minor_if_needed(small, ks, cfn, min_threshold=2) is False
    assert stats() == files
    assert _live(small, ks, cfn) == before
    assert maintenance.submit_minor_if_needed(store, ks, cfn, min_threshold=2)
    assert len(stats()) == 1
    assert _live(store, ks, cfn) == before


def _store_files(store, ks, cfn):
    import os

    base = store._cf_dir(ks, cfn)
    return sorted(
        os.path.relpath(os.path.join(d, f), base)
        for d, _, fs in os.walk(os.path.join(base, "cells"))
        for f in fs
    )


@pytest.mark.parametrize(
    "cells, tombs",
    [
        ([(None, None, b"c", b"v", 1, False, None)], []),
        ([("k", None, None, b"v", 1, False, None)], []),
        ([("k", None, b"c", b"v", None, False, None)], []),
        ([("k", None, b"c", "v", 1, False, None)], []),
        ([("k", None, b"c", b"v", 1.0, False, None)], []),
        ([("k", None, b"c", b"v", True, False, None)], []),
        ([("k", None, b"c", None, 1, True, 2**31)], []),
        ([], [("k", None, None, 100)]),
    ],
    ids=["null_key", "null_column", "null_ts", "str_value", "float_ts", "bool_ts", "ldt_overflow", "null_tomb_ts"],
)
def test_commit_rejects_bad_rows_and_leaves_no_file(store, cells, tombs):
    """A durable commit checks its rows as ``createDataFrame(rows,
    CELL_SCHEMA)`` does: a null in a non-nullable field, a ``str`` in a
    binary field, a non-int ``ts`` or an out-of-range ``ldt`` raises before
    any file, hidden or visible, is written."""
    batch = write.MutationBatch(cells=list(cells), container_tombstones=list(tombs))
    with pytest.raises((TypeError, ValueError)):
        store.apply("Keyspace1", "Standard1", batch, durable=True)
    assert _store_files(store, "Keyspace1", "Standard1") == []


def test_commit_checks_both_kinds_before_publishing_either(store):
    """Good cells beside a bad container tombstone: nothing is published."""
    good = ("k", None, b"c", b"v", 1, False, None)
    batch = write.MutationBatch(cells=[good], container_tombstones=[("k", None, None, 100)])
    with pytest.raises(ValueError):
        store.apply("Keyspace1", "Standard1", batch, durable=True)
    assert _store_files(store, "Keyspace1", "Standard1") == []


@pytest.mark.parametrize("crash", ["temp_write", "before_replace", "after_replace"])
def test_commit_crash_leaves_pre_or_post_state(store, spark, monkeypatch, crash):
    """A durable commit publishes one file: a batch's cells and its row
    delete become visible together or not at all. A crash while the file
    is written or before its rename leaves the pre-state and a hidden temp
    file; a crash after the rename, the post-state. No reader -- the bind,
    minor compaction, snapshot, major compaction -- takes the temp file for
    data, and the next commit works."""
    import os

    import pyarrow.parquet as pq

    ks, cfn = "Keyspace1", "Standard1"
    for key in ("k", "other"):
        store.apply(ks, cfn, write.insert(key, ColumnPath(cfn, column=b"old"), b"v", 1))
    pre = _live(store, ks, cfn)
    batch = write.remove("k", ColumnPath(cfn), 5, local_deletion_time=2**31 - 10)
    batch.extend(write.insert("k", ColumnPath(cfn, column=b"new"), b"v2", 6))

    real_replace = os.replace

    def crash_replace(src, dst):
        if crash == "after_replace":
            real_replace(src, dst)
        raise Crash

    with monkeypatch.context() as m:
        if crash == "temp_write":
            m.setattr(pq, "write_table", _torn_write)
        else:
            m.setattr(os, "replace", crash_replace)
        with pytest.raises(Crash):
            store.apply(ks, cfn, batch)
    expected = pre if crash != "after_replace" else [("k", b"new", b"v2"), ("other", b"old", b"v")]
    temps = [f for f in _store_files(store, ks, cfn) if not f.endswith(".parquet")]
    assert len(temps) == (crash != "after_replace") and all(os.path.basename(f).startswith(".") for f in temps)

    reopened = CellStore(spark, store.root, store.catalog)
    assert _live(reopened, ks, cfn) == expected
    snap = maintenance.snapshot(reopened, ks, cfn, "after_crash")
    assert all(f.endswith(".parquet") for _, _, fs in os.walk(snap) for f in fs)
    assert maintenance.submit_minor_if_needed(reopened, ks, cfn, min_threshold=2)
    assert _live(reopened, ks, cfn) == expected
    reopened.apply(ks, cfn, write.insert("k2", ColumnPath(cfn, column=b"c"), b"v3", 7))
    expected = sorted(expected + [("k2", b"c", b"v3")])
    maintenance.compact(reopened, ks, cfn)
    assert _live(CellStore(spark, store.root, store.catalog), ks, cfn) == expected


def test_commit_runs_no_spark_job(store, spark):
    """Durable batch_mutate, a whole-row remove and the flush of a buffered
    batch are driver-side file commits: not one Spark job."""
    engine = Engine(spark, store.root, store.catalog)
    ks, sc, group = "Keyspace1", spark.sparkContext, "commit-runs-no-job"
    muts = [Mutation(column_name=b"c", value=b"v", timestamp=1), Mutation(deletion=Deletion(timestamp=2))]
    sc.setJobGroup(group, "durable commits")
    try:
        engine.batch_mutate(ks, {"k1_ab": {"Standard1": muts[:1], "Dom1": muts[:1]}, "k2_cd": {"Dom1": muts}})
        engine.remove(ks, "k1_ab", ColumnPath("Standard1"), 3)
        engine.batch_mutate(ks, {"k3": {"Standard1": muts}}, durable=False)
        engine.flush(ks, "Standard1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    # one file per batch: the insert, the row remove, the flushed cell and row delete
    assert len(_store_files(store, ks, "Standard1")) == 3


_ALL = SlicePredicate(slice_range=SliceRange(count=100))


def _cells(r) -> tuple:
    return tuple(bytes(v) if isinstance(v, bytearray) else v for v in (r["key"], r["sc"], r["column"], r["value"]))


def _no_ctombs(store) -> bool:
    return not any("ctombs" in dirs for _, dirs, _ in os.walk(store.root))


@pytest.mark.parametrize("durable", [True, False], ids=["durable", "buffered"])
@pytest.mark.parametrize("cfn", ["Standard1", "Dom1", "Super1"])
def test_container_tombstones_commit_with_their_batch(store, spark, monkeypatch, cfn, durable):
    """A batch's cell, row and supercolumn removes commit in one file with
    its cells, the container tombstones as ``MARKER`` cells in ``cells/``:
    one ``_publish`` per batch, or per ``_dom=`` directory the batch
    touches. No code path creates ``ctombs/``, and the Engine's key reads
    and the Spark live view read the expected cells before and after a
    minor and a major compaction inside grace."""
    ks, a, b = "Keyspace1", "k1_ab", "k2_cd"
    sc1, sc2 = (b"s1", b"s2") if cfn == "Super1" else (None, None)
    engine = Engine(spark, store.root, store.catalog)
    for key in (a, b):
        for sc, col in ((sc1, b"c1"), (sc1, b"c2"), (sc2, b"c2")):
            engine.insert(ks, key, ColumnPath(cfn, super_column=sc, column=col), b"v", 1)
    c1 = SlicePredicate(column_names=(b"c1",))
    b_deletes = [Mutation(deletion=Deletion(timestamp=2, super_column=sc1, predicate=c1))]
    if sc2 is not None:
        b_deletes.append(Mutation(deletion=Deletion(timestamp=2, super_column=sc2)))  # a supercolumn delete
    batch = {
        a: {cfn: [Mutation(deletion=Deletion(timestamp=2)), Mutation(b"c3", b"v3", 3, super_column=sc1)]},
        b: {cfn: b_deletes},
    }
    base, published, publish = store._cf_dir(ks, cfn), [], cellstore._publish

    def counting_publish(table, dirpath):
        rows = zip(table.column("key").to_pylist(), table.column("column").to_pylist())
        published.append((os.path.relpath(dirpath, base), sorted(rows)))
        publish(table, dirpath)

    with monkeypatch.context() as m:
        m.setattr(cellstore, "_publish", counting_publish)
        engine.batch_mutate(ks, batch, durable=durable)
        assert published == [] or durable
        engine.flush(ks, cfn)
    a_rows, b_rows = [(a, MARKER), (a, b"c3")], [(b, MARKER)] * (sc2 is not None) + [(b, b"c1")]
    if cfn == "Dom1":
        assert published == [(os.path.join("cells", "_dom=ab"), a_rows), (os.path.join("cells", "_dom=cd"), b_rows)]
    else:
        assert published == [("cells", sorted(a_rows + b_rows))]
    want = {(a, sc1, b"c3", b"v3"), (b, sc1, b"c2", b"v")}

    def check():
        assert {_cells(r) for r in engine.multiget_slice(ks, [a, b], cfn, _ALL).collect()} == want
        assert {_cells(r) for r in engine.cf(ks, cfn).live().collect()} == want
        assert _no_ctombs(store)

    check()
    assert engine.compact_minor_if_needed(ks, cfn, min_threshold=2)
    check()
    engine.compact(ks, cfn)
    assert store.key_cells(ks, cfn, [a])[1] == [(a, None, 2)]  # the row delete, kept in the generation
    check()


@pytest.mark.parametrize("cfn", ["Standard1", "Dom1"])
def test_cf_binds_no_tombstones_while_no_file_may_hold_a_marker(store, spark, cfn):
    """``cf()`` reads each source's Parquet footers: while no file's min
    ``column`` is the marker it binds no container tombstones and filters
    nothing, over Spark-written (bulk load, compaction) and pyarrow-written
    (commit) files alike. A row delete binds them until a compaction past
    grace purges it."""
    ks, c = "Keyspace1", ColumnPath(cfn, column=b"c")

    def tombs():
        cf = store.cf(ks, cfn)
        plan = cf.cells._jdf.queryExecution().optimizedPlan().toString()
        return None if cf.container_tombstones is None else cf.container_tombstones.count(), "Filter" in plan

    store.bulk_load(ks, cfn, spark.createDataFrame([("k1_ab", None, b"c", b"v", 1, False, None)], CELL_SCHEMA))
    store.apply(ks, cfn, write.insert("k2_cd", c, b"v", 1))
    assert tombs() == (None, False)
    maintenance.compact(store, ks, cfn)
    store.apply(ks, cfn, write.insert("k2_cd", c, b"v2", 2))
    assert tombs() == (None, False)
    store.apply(ks, cfn, write.remove("k1_ab", ColumnPath(cfn), 3, local_deletion_time=100))
    assert tombs() == (1, True)
    maintenance.compact(store, ks, cfn, gc_grace_seconds=0, now=50)  # keeps it
    assert tombs() == (1, True)
    maintenance.compact(store, ks, cfn, gc_grace_seconds=0, now=1000)  # purges it
    assert tombs() == (None, False)
    assert _live(store, ks, cfn) == [("k2_cd", b"c", b"v2")]


@pytest.mark.parametrize("cfn", ["Standard1", "Dom1"])
def test_compaction_keeps_in_grace_markers_in_its_one_spark_write(store, spark, monkeypatch, cfn):
    """A major compaction writes the container tombstones it keeps into
    the generation: the generation's write is its only Spark write, with no
    ``isEmpty`` job before it. A row delete inside grace still shadows its
    row's cells; one past grace is purged."""
    from pyspark.sql import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    ks, c = "Keyspace1", ColumnPath(cfn, column=b"c")
    for key in ("k1_ab", "k2_cd", "k3_ab"):
        store.apply(ks, cfn, write.insert(key, c, b"v", 1))
    store.apply(ks, cfn, write.remove("k1_ab", ColumnPath(cfn), 2, local_deletion_time=2**31 - 10))
    store.apply(ks, cfn, write.remove("k2_cd", ColumnPath(cfn), 2, local_deletion_time=100))
    calls = []

    def spy(owner, name):
        real = getattr(owner, name)

        def wrapper(self, *args, **kwargs):
            calls.append(name)
            return real(self, *args, **kwargs)

        monkeypatch.setattr(owner, name, wrapper)

    for owner, name in ((DataFrameWriter, "parquet"), (DataFrameWriter, "saveAsTable"), (DataFrame, "isEmpty")):
        spy(owner, name)
    maintenance.compact(store, ks, cfn, gc_grace_seconds=0, now=1000)
    monkeypatch.undo()
    assert calls == (["parquet"] if cfn == "Dom1" else ["saveAsTable"])
    assert store.key_cells(ks, cfn, ["k1_ab", "k2_cd"])[1] == [("k1_ab", None, 2)]
    assert _live(store, ks, cfn) == [("k3_ab", b"c", b"v")]
    assert _no_ctombs(store)


@pytest.mark.parametrize("cfn", ["Standard1", "Dom1"])
def test_legacy_ctombs_is_read_then_folded_into_cells(store, spark, cfn):
    """A store written when container tombstones lived in ``ctombs/``: one
    file a commit wrote with pyarrow, one a compaction appended with
    Spark's writer (with its ``.crc`` and ``_SUCCESS``). The first read
    republishes them as markers in ``cells/``, each in its key's ``_dom=``
    directory, and removes ``ctombs/``. Key, range and Spark reads see the
    deletes, before and after a major compaction."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ks = "Keyspace1"
    engine = Engine(spark, store.root, store.catalog)
    for key in ("k1_ab", "k2_cd", "k3_ab"):
        engine.insert(ks, key, ColumnPath(cfn, column=b"c"), b"v", 1)
    legacy = os.path.join(store._cf_dir(ks, cfn), "ctombs")
    os.makedirs(legacy)
    row = {"key": ["k1_ab"], "sc": pa.array([None], pa.binary()), "ts": [2], "ldt": pa.array([2**31 - 10], pa.int32())}
    pq.write_table(pa.table(row), os.path.join(legacy, f"part-{uuid.uuid4()}.zstd.parquet"))
    kept = spark.createDataFrame([("k2_cd", None, 2, 2**31 - 10)], CONTAINER_TOMBSTONE_SCHEMA)
    kept.coalesce(1).write.mode("append").parquet(legacy)
    assert any(f.endswith(".parquet.crc") for f in os.listdir(legacy))
    want = [("k3_ab", b"c", b"v")]

    def check(engine):
        rows = engine.multiget_slice(ks, ["k1_ab", "k2_cd", "k3_ab"], cfn, _ALL).collect()
        assert [(r["key"], bytes(r["column"]), bytes(r["value"])) for r in rows] == want
        ring = KeyRange(start_token="", end_token="", count=10)
        rows = engine.get_range_slices(ks, cfn, _ALL, ring).collect()
        assert [(r["key"], bytes(r["column"]), bytes(r["value"])) for r in rows] == want
        assert _live(engine.store, ks, cfn) == want

    check(engine)
    assert not os.path.exists(legacy)
    base = store._cf_dir(ks, cfn)
    markers = sorted(
        (os.path.dirname(rel), r["key"])
        for rel in store._files(ks, cfn, "cells")
        for r in pq.read_table(os.path.join(base, rel)).to_pylist()
        if r["column"] == MARKER
    )
    if cfn == "Dom1":
        assert markers == [(os.path.join("cells", "_dom=ab"), "k1_ab"), (os.path.join("cells", "_dom=cd"), "k2_cd")]
    else:
        assert markers == [("cells", "k1_ab"), ("cells", "k2_cd")]
    engine.compact(ks, cfn)
    check(Engine(spark, store.root, store.catalog))
    assert _no_ctombs(store)


def test_bulk_load_rejects_an_empty_column_name(store, spark):
    """A bulk-loaded cell with an empty column name would read as a
    container tombstone: the load fails, and the CF reads as before."""
    ks, cfn = "Keyspace1", "Standard1"
    store.bulk_load(ks, cfn, spark.createDataFrame([("k", None, b"c", b"v", 1, False, None)], CELL_SCHEMA))
    pre, files = _live(store, ks, cfn), _store_files(store, ks, cfn)
    bad = [("k2", None, b"c", b"v", 1, False, None), ("k", None, b"", None, 5, True, 100)]
    with pytest.raises(Exception, match="column name may not be empty"):
        store.bulk_load(ks, cfn, spark.createDataFrame(bad, CELL_SCHEMA))
    assert _store_files(store, ks, cfn) == files
    assert _live(CellStore(spark, store.root, store.catalog), ks, cfn) == pre


def test_only_the_store_tells_markers_from_cells():
    """Spark-free guard: a container tombstone is stored as a cell whose
    ``column`` is ``cellstore.MARKER``. Only the store and minor
    compaction's pass-through tell the two apart; every other reader gets
    them split into ``CF.cells`` and ``CF.container_tombstones``. So no
    other package module names ``MARKER``, and none compares a column
    with ``b""``."""
    import ast
    import pathlib

    pkg = pathlib.Path(cellstore.__file__).resolve().parents[1]

    def marker(node) -> bool:
        return (
            isinstance(node, ast.Name) and node.id == "MARKER"
            or isinstance(node, ast.Attribute) and node.attr == "MARKER"
            or isinstance(node, ast.alias) and node.name == "MARKER"
        )

    def mentions(side, test) -> bool:
        return any(test(n) for n in ast.walk(side))

    def empty(node) -> bool:
        return isinstance(node, ast.Constant) and node.value == b""

    def column(node) -> bool:
        return (
            isinstance(node, ast.Name) and node.id == "column"
            or isinstance(node, ast.Attribute) and node.attr == "column"
            or isinstance(node, ast.Constant) and node.value == "column"
        )

    found = set()
    for path in pkg.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            sides = [node.left, *node.comparators] if isinstance(node, ast.Compare) else []
            by_value = any(mentions(s, empty) for s in sides) and any(mentions(s, column) for s in sides)
            if marker(node) or by_value:
                found.add(path.relative_to(pkg).as_posix())
    assert found == {"sources/cellstore.py", "operators/maintenance.py"}


def test_rows_may_exist_probe(store):
    ks, cfn = "Keyspace1", "Standard1"
    store.apply(ks, cfn, write.insert("k1", ColumnPath(cfn, column=b"c1"), b"v1", 1))
    cf = store.cf(ks, cfn)
    got = {r["key"]: r["may_exist"] for r in exists.rows_may_exist(cf, ["k1", "nope"]).collect()}
    assert got == {"k1": True, "nope": False}


def test_columns_may_exist_stale_positive_ok(store):
    ks, cfn = "Keyspace1", "Standard1"
    store.apply(ks, cfn, write.insert("k1", ColumnPath(cfn, column=b"c1"), b"v1", 1))
    store.apply(ks, cfn, write.remove("k1", ColumnPath(cfn, column=b"c1"), 2))
    cf = store.cf(ks, cfn)
    got = {bytes(r["column"]): r["may_exist"] for r in exists.columns_may_exist(cf, "k1", [b"c1", b"c9"]).collect()}
    # deleted column may still probe true (one-sided contract); absent is false
    assert got[b"c1"] is True and got[b"c9"] is False


def test_validate_checksums_detect_divergence(store):
    ks, cfn = "Keyspace1", "Standard1"
    for i in range(10):
        store.apply(ks, cfn, write.insert(f"k{i}", ColumnPath(cfn, column=b"c"), b"v", 1))
    before = {r["bucket"]: r["content_hash"] for r in maintenance.validate(store.cf(ks, cfn)).collect()}
    # compaction must NOT change the logical content
    maintenance.compact(store, ks, cfn, gc_grace_seconds=0)
    after = {r["bucket"]: r["content_hash"] for r in maintenance.validate(store.cf(ks, cfn)).collect()}
    assert before == after
    # a mutation must change exactly the affected bucket
    store.apply(ks, cfn, write.insert("k3", ColumnPath(cfn, column=b"c"), b"CHANGED", 2))
    diverged = {r["bucket"]: r["content_hash"] for r in maintenance.validate(store.cf(ks, cfn)).collect()}
    assert diverged != after
    assert sum(1 for b in after if diverged.get(b) != after[b]) == 1


def test_bulk_load(store, spark):
    from apache_cassandra_spark.sources.ingest import cells_from_table

    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, name string")
    store.bulk_load("Keyspace1", "Standard1", cells_from_table(df, "id"))
    cf = store.cf("Keyspace1", "Standard1")
    assert read.get_count(cf, "1").collect()[0]["count"] == 1


_HOT = SlicePredicate(slice_range=SliceRange(count=10))


def _hot_values(cf) -> list:
    return [bytes(r["value"]) for r in read.get_slice(cf, "hot", _HOT).collect()]


def _put(store, cfn, value, ts, **kwargs):
    store.apply("Keyspace1", cfn, write.insert("hot", ColumnPath(cfn, column=b"c"), value, ts), **kwargs)


def _crash_on_remove(store, monkeypatch):
    def crash(path):
        raise Crash

    with monkeypatch.context() as m:
        m.setattr(os, "remove", crash)
        with pytest.raises(Crash):
            maintenance.submit_minor_if_needed(store, "Keyspace1", "Standard1", min_threshold=2)


def _bulk_load_new(store, spark):
    cells = spark.createDataFrame([("hot", None, b"c", b"new", 2, False, None)], CELL_SCHEMA)
    store.bulk_load("Keyspace1", "Standard1", cells)


# case -> (CF, prepare, change, expected hot values); prepare runs before
# the frame is cached, change after it
_STATE_CHANGES = {
    "durable_insert": ("Standard1", None, lambda s, sp, mp: _put(s, "Standard1", b"new", 2), [b"new"]),
    "row_remove": (
        "Standard1",
        None,
        lambda s, sp, mp: s.apply("Keyspace1", "Standard1", write.remove("hot", ColumnPath("Standard1"), 2)),
        [],
    ),
    "buffered_insert": (
        "Standard1",
        None,
        lambda s, sp, mp: _put(s, "Standard1", b"new", 2, durable=False),
        [b"new"],
    ),
    # the frame is cached over the raw memtable; the flush chain then drops
    # the buffered cell, so no file is written
    "flush_dropping_processor": (
        "FlushProc1",
        lambda s: _put(s, "FlushProc1", b"DROPME", 2, durable=False),
        lambda s, sp, mp: s.flush(),
        [b"old"],
    ),
    "bulk_load": ("Standard1", None, lambda s, sp, mp: _bulk_load_new(s, sp), [b"new"]),
    "minor_compaction": (
        "Standard1",
        lambda s: _put(s, "Standard1", b"new", 2),
        lambda s, sp, mp: maintenance.submit_minor_if_needed(s, "Keyspace1", "Standard1", min_threshold=2),
        [b"new"],
    ),
    # renames done, inputs not yet removed: merged file beside its inputs
    "minor_cut_short": (
        "Standard1",
        lambda s: _put(s, "Standard1", b"new", 2),
        lambda s, sp, mp: _crash_on_remove(s, mp),
        [b"new"],
    ),
    "major_compaction": (
        "Standard1",
        None,
        lambda s, sp, mp: maintenance.compact(s, "Keyspace1", "Standard1"),
        [b"old"],
    ),
    "second_store": (
        "Standard1",
        None,
        lambda s, sp, mp: _put(CellStore(sp, s.root, s.catalog), "Standard1", b"new", 2),
        [b"new"],
    ),
}


def test_fresh_bind_after_write_is_not_served_by_a_held_cached_frame(store):
    """A held ``cached_rows()`` frame must not answer a fresh bind's read
    with the value a later write overwrote."""
    ks, cfn = "Keyspace1", "Standard1"
    _put(store, cfn, b"old", 1)
    held = store.cf(ks, cfn).cached_rows()
    try:
        assert held.count() == 1  # materializes the cache
        _put(store, cfn, b"new", 2)
        assert [bytes(r["value"]) for r in store.cf(ks, cfn).live().collect()] == [b"new"]
    finally:
        held.unpersist()


@pytest.mark.parametrize("case", list(_STATE_CHANGES))
def test_held_cached_frame_does_not_serve_a_replaced_value(store, spark, monkeypatch, drop_marked_processor, case):
    """A held ``cached_rows()`` frame must not answer a fresh bind's read
    with a value that a later change to the CF's state -- a write, a
    flush, a bulk load, a compaction (also one cut short) or a write by
    another store -- replaced."""
    cfn, prepare, change, expected = _STATE_CHANGES[case]
    ks = "Keyspace1"
    _put(store, cfn, b"old", 1)
    # a container tombstone already on disk, so the held frame's plan
    # already splits the markers from the cells when a later row remove
    # adds another
    store.apply(ks, cfn, write.remove("other", ColumnPath(cfn), 1))
    if prepare is not None:
        prepare(store)
    held = store.cf(ks, cfn).cached_rows()
    try:
        assert held.count() == 1  # materializes the cache
        change(store, spark, monkeypatch)
        cf = store.cf(ks, cfn)
        assert [bytes(r["value"]) for r in cf.live().collect()] == expected
        assert _hot_values(cf) == expected
    finally:
        held.unpersist()


def test_two_stores_on_one_root_read_each_others_writes(store, spark):
    """Store A reads; store B commits a new value. Both read it, though
    neither store saw the other's write happen."""
    ks, cfn = "Keyspace1", "Standard1"
    _put(store, cfn, b"old", 1)
    other = CellStore(spark, store.root, store.catalog)
    assert _hot_values(store.cf(ks, cfn)) == [b"old"]
    _put(other, cfn, b"new", 2)
    assert _hot_values(other.cf(ks, cfn)) == [b"new"]
    assert _hot_values(store.cf(ks, cfn)) == [b"new"]


def test_saved_cache_calls_are_silent_no_ops(tmp_path, capsys):
    """The store primes no row cache, but perfbench's set-up and tear-down
    still call the saved-caches API: both calls return, print nothing and
    write no file."""
    store = CellStore(None, str(tmp_path), Catalog.from_dict({"Keyspace1": {"Standard1": {}}}))
    store.save_row_cache("Keyspace1", "Standard1", ["hot"])
    store.invalidate_row_cache("Keyspace1", "Standard1")
    assert capsys.readouterr().out == ""
    assert os.listdir(tmp_path) == []


def test_row_cache_serves_from_memory(store):
    """Row-cache analog (db/ColumnFamilyStore.java:975-986): after
    materialization, reads come from InMemoryRelation, not the store."""
    store.apply(
        "Keyspace1", "Standard1", write.insert("rc", ColumnPath("Standard1", column=b"c"), b"v", 1)
    )
    cf = store.cf("Keyspace1", "Standard1")
    cached = cf.cached_rows()
    try:
        assert cached.count() == 1  # materializes the cache
        point = cached.where(cached.key == "rc")
        plan = point._jdf.queryExecution().executedPlan().toString()
        # served from the cache: the scan node is InMemoryTableScan (its
        # string embeds the origin plan, so only assert the node type)
        assert "InMemoryTableScan" in plan
        assert point.count() == 1
    finally:
        cached.unpersist()
