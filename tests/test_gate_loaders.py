"""The gate loaders type every driver table from its Parquet footer: the
read runs no schema-inference job and leaves the caller's session conf
as it found it, whatever the file's timestamp unit."""

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq

from apache_cassandra_spark.gates.common import _read, load_events, load_events_raw

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_nanos_events_read_as_raw_long_without_touching_the_session(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``ts`` reads as its raw bigint nanos. Spark
    rejects that column unless it is declared long, so the loader must
    declare it in the schema instead of flipping the legacy conf."""
    nanos = [1_705_363_200_123_456_789, 1_705_363_201_000_000_001, 0]
    tbl = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(nanos, pa.timestamp("ns")),
    })
    pq.write_table(tbl, tmp_path / "events.parquet")
    before = spark.conf.get(NANOS_AS_LONG, "false")
    spark.conf.set(NANOS_AS_LONG, "false")
    try:
        raw = load_events_raw(spark, str(tmp_path))
        assert dict(raw.dtypes)["ts"] == "bigint"
        assert sorted(r.ts for r in raw.collect()) == sorted(nanos)
        norm = load_events(spark, str(tmp_path))
        assert sorted(r.ts for r in norm.collect()) == sorted(nanos)
        assert spark.conf.get(NANOS_AS_LONG, "false") == "false"
    finally:
        spark.conf.set(NANOS_AS_LONG, before)


def test_footer_schema_equals_spark_inference_on_driver_tables(spark):
    paths = sorted(glob.glob("/root/testdata/sf0.001/*.parquet"))
    assert len(paths) == 10
    for p in paths:
        assert _read(spark, p).schema == spark.read.parquet(p).schema, os.path.basename(p)
