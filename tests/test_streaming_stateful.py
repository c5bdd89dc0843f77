"""Stateful LWW materialization via applyInPandasWithState: later batches
with OLDER timestamps must not override state (the memtable resolve rule,
incrementalized)."""

import json

from apache_cassandra_spark.streaming.ingest import mutation_stream
from apache_cassandra_spark.streaming.stateful import lww_updates


def write_batch(path, name, rows):
    path.mkdir(parents=True, exist_ok=True)
    with open(path / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stateful_lww_across_batches(spark, tmp_path):
    src = tmp_path / "muts"
    # batch 1: ts 5; batch 2: an OLDER write (ts 3, must emit nothing for k1)
    # and a newer write for k2
    write_batch(
        src,
        "b1.json",
        [
            {"key": "k1", "sc": None, "column": "63", "value": "6131", "ts": 5, "tombstone": False, "ldt": None},
            {"key": "k2", "sc": None, "column": "63", "value": "6231", "ts": 1, "tombstone": False, "ldt": None},
        ],
    )
    write_batch(
        src,
        "b2.json",
        [
            {"key": "k1", "sc": None, "column": "63", "value": "6f6c64", "ts": 3, "tombstone": False, "ldt": None},
            {"key": "k2", "sc": None, "column": "63", "value": "6232", "ts": 9, "tombstone": False, "ldt": None},
        ],
    )
    cells = mutation_stream(spark, str(src), max_files_per_trigger=1)
    out = lww_updates(cells.drop("ldt"))

    batches = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: batches.append((bid, [tuple(r) for r in df.collect()])))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    emitted = [r for _, rows in batches for r in rows]
    by_key = {}
    for key, sc, column, value, ts, tomb in emitted:
        by_key.setdefault(key, []).append((bytes(value), ts))
    # k1: only the ts=5 write ever emitted (older ts=3 lost to state)
    assert by_key["k1"] == [(b"a1", 5)]
    # k2: both emissions, each a state improvement
    assert by_key["k2"] == [(b"b1", 1), (b"b2", 9)]


def test_streaming_state_equals_batch_reconcile(spark, tmp_path):
    """Equivalence lock (memtable ``resolve`` == ``collectCollatedColumns``,
    which the reference guarantees by construction): the same mutation log
    fed through the stateful streaming operator and through the batch
    reconcile must land on the identical final state — including ties won
    by value, ties won by tombstone, and late losers emitting nothing."""
    from apache_cassandra_spark.functions.reconcile import reconcile
    from apache_cassandra_spark.sources.cellstore import CELL_SCHEMA

    hx = lambda b: b.hex()  # noqa: E731
    log = [
        [  # batch 1
            ("k1", None, b"c", b"v1", 100, False),
            ("k2", None, b"c", b"a", 100, False),
            ("k3", None, b"c", b"x", 300, False),
        ],
        [  # batch 2: win, value-tie win, tombstone-tie win
            ("k1", None, b"c", b"v2", 200, False),
            ("k2", None, b"c", b"b", 100, False),
            ("k3", None, b"c", None, 300, True),
        ],
        [  # batch 3: two losers (emit nothing), one new coordinate
            ("k1", None, b"c", b"v0", 50, False),
            ("k2", None, b"c", None, 90, True),
            ("k4", None, b"c", b"q", 7, False),
        ],
    ]
    src = tmp_path / "muts"
    for i, rows in enumerate(log):
        write_batch(
            src,
            f"b{i}.json",
            [
                {"key": k, "sc": hx(sc) if sc else None, "column": hx(c),
                 "value": hx(v) if v is not None else None, "ts": ts,
                 "tombstone": tomb, "ldt": None}
                for k, sc, c, v, ts, tomb in rows
            ],
        )

    cells = mutation_stream(spark, str(src), max_files_per_trigger=1)
    emissions = []
    q = (
        lww_updates(cells.drop("ldt"))
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: emissions.append((bid, [tuple(r) for r in df.collect()])))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # streaming final state: last emission per coordinate, in batch order
    stream_state = {}
    for _bid, rows in sorted(emissions):
        for key, sc, column, value, ts, tomb in rows:
            coord = (key, bytes(sc) if sc is not None else None, bytes(column))
            stream_state[coord] = (bytes(value) if value is not None else None, ts, tomb)

    flat = [(k, sc, c, v, ts, tomb, None) for rows in log for k, sc, c, v, ts, tomb in rows]
    batch_state = {
        (r["key"], bytes(r["sc"]) if r["sc"] is not None else None, bytes(r["column"])): (
            bytes(r["value"]) if r["value"] is not None else None, r["ts"], r["tombstone"]
        )
        for r in reconcile(spark.createDataFrame(flat, CELL_SCHEMA)).collect()
    }
    assert stream_state == batch_state


def test_lww_updates_ranks_null_value_below_empty_value(spark, tmp_path):
    """A live NULL value and a live ``b""`` at one ts: the read path keeps
    ``b""`` (a null value ranks below every byte string), and the
    streaming operator, fed the same two cells in one micro-batch, must
    keep the same winner."""
    from tests.util import cell, make_cf

    src = tmp_path / "muts"
    write_batch(
        src,
        "b1.json",
        [
            {"key": "k", "sc": None, "column": "63", "value": v, "ts": 5, "tombstone": False, "ldt": None}
            for v in (None, "")
        ],
    )
    emitted = []
    q = (
        lww_updates(mutation_stream(spark, str(src)).drop("ldt"))
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: emitted.extend(tuple(r) for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = [(key, None if value is None else bytes(value), ts) for key, _, _, value, ts, _ in emitted]

    cf = make_cf(spark, [cell("k", b"c", None, 5), cell("k", b"c", b"", 5)])
    live = [(r["key"], bytes(r["value"]), r["ts"]) for r in cf.live().collect()]
    assert live == [("k", b"", 5)]
    assert got == live
