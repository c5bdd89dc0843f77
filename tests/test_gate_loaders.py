"""The gate loaders type every driver table from its Parquet footer: the
read runs no schema-inference job and leaves the caller's session conf
as it found it, whatever the file's timestamp unit. A gate's scratch
directory lasts until its interpreter exits."""

import glob
import os
import subprocess
import sys

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


def test_scratch_dir_is_removed_when_the_interpreter_exits(tmp_path):
    """Spark-free: a child interpreter makes a scratch directory, writes a
    file into it and exits; the directory is gone after the exit and not
    before it."""
    child = (
        "import os, sys\n"
        "from apache_cassandra_spark.gates.common import scratch_dir\n"
        "path = scratch_dir('gate_scratch_test_')\n"
        "open(os.path.join(path, 'part'), 'w').close()\n"
        "print(path, os.path.isdir(path))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=repo)
    out = subprocess.run([sys.executable, "-c", child], env=env, capture_output=True, text=True, check=True).stdout
    path, existed = out.split()
    assert existed == "True" and path.startswith(str(tmp_path))
    assert not os.path.exists(path)
