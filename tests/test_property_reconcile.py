"""Property-based fuzz of the LWW reconcile + shadowing core against a
pure-Python model of the reference semantics (db/Column.java:196-210,
db/ColumnFamilyStore.java:1036-1045, QueryFilter.isRelevant).

SURVEY.md §7.3 hard-part #1: 'Encode as a single orderable priority
struct; fuzz against oracle.'
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from apache_cassandra_spark.functions.reconcile import live_view
from apache_cassandra_spark.sources.cellstore import CELL_SCHEMA, CONTAINER_TOMBSTONE_SCHEMA

KEYS = ["k1", "k2"]
SCS = [None, b"s1", b"s2"]
COLS = [b"a", b"b"]
VALUES = [b"", b"x", b"xx", b"\xff"]
TS = st.integers(min_value=0, max_value=5)

cell_st = st.tuples(
    st.sampled_from(KEYS),
    st.sampled_from(SCS),
    st.sampled_from(COLS),
    st.sampled_from(VALUES),
    TS,
    st.booleans(),
)
tomb_st = st.tuples(st.sampled_from(KEYS), st.sampled_from(SCS), TS)


def python_model(cells, tombs):
    """Reference semantics, straight-line Python."""
    # container watermarks
    row_w: dict[str, int] = {}
    sc_w: dict[tuple[str, bytes], int] = {}
    for key, sc, ts in tombs:
        if sc is None:
            row_w[key] = max(row_w.get(key, -1), ts)
        else:
            sc_w[(key, sc)] = max(sc_w.get((key, sc), -1), ts)

    # LWW winner per coordinate: (ts, tombstone, value) priority
    winners: dict[tuple, tuple] = {}
    for key, sc, col, value, ts, tomb in cells:
        v = None if tomb else value
        pri = (ts, 1 if tomb else 0, v if v is not None else b"")
        coord = (key, sc, col)
        if coord not in winners or pri > winners[coord][0]:
            winners[coord] = (pri, (key, sc, col, v, ts, tomb))

    out = set()
    for (key, sc, col), (_, cell) in winners.items():
        _, _, _, v, ts, tomb = cell
        if tomb:
            continue
        if key in row_w and ts <= row_w[key]:
            continue
        if sc is not None and (key, sc) in sc_w and ts <= sc_w[(key, sc)]:
            continue
        out.add((key, sc, col, v, ts))
    return out


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(cells=st.lists(cell_st, min_size=1, max_size=12), tombs=st.lists(tomb_st, max_size=4))
def test_reconcile_matches_python_model(spark, cells, tombs):
    cell_rows = [
        (key, sc, col, (None if tomb else value), ts, tomb, 0 if tomb else None)
        for key, sc, col, value, ts, tomb in cells
    ]
    tomb_rows = [(key, sc, ts, 0) for key, sc, ts in tombs]
    cells_df = spark.createDataFrame(cell_rows, CELL_SCHEMA)
    tombs_df = spark.createDataFrame(tomb_rows, CONTAINER_TOMBSTONE_SCHEMA) if tomb_rows else None
    got = {
        (r["key"], bytes(r["sc"]) if r["sc"] is not None else None, bytes(r["column"]),
         bytes(r["value"]) if r["value"] is not None else None, r["ts"])
        for r in live_view(cells_df, tombs_df).collect()
    }
    expected = python_model(cells, tombs)
    assert got == expected
