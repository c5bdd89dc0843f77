"""Table loaders shared by every gate family.

One reader types each table from its own Parquet footer and hands Spark
that schema explicitly: the read runs no inference job, sets no session
conf and keeps nothing between calls. Like the scan-width probe, it
assumes each table is one Parquet file on local disk.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema


def scratch_dir(prefix: str) -> str:
    """A new temporary directory for a gate's intermediate files, removed
    when the interpreter exits. Not earlier: the gate's result is a lazy
    DataFrame that reads it."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


#: files below this size stay narrow: their pipelines are trivial and the
#: round-robin exchange would be pure overhead (tiny dims broadcast anyway)
_WIDEN_MIN_BYTES = 256 * 1024


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``path`` read with the schema its footer declares. Spark has no
    nanosecond timestamp and reads a ``TIMESTAMP(NANOS)`` column only as
    its raw long, so such a field is declared ``bigint``; naive timestamps
    stay ``timestamp_ntz``, as Spark's own inference types them."""
    schema = pq.read_schema(path)
    for i, field in enumerate(schema):
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            schema = schema.set(i, field.with_type(pa.int64()))
    return spark.read.schema(from_arrow_schema(schema, prefer_timestamp_ntz=True)).parquet(path)


def _widened(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Scale-adaptive input width (guide §2.5 — the unsplittable-input
    fix): the driver testdata ships each table as ONE parquet row group,
    so a compute-heavy stage-1 (Python codec batches) would run in a
    single task no matter the core count — split-size configs cannot
    help because a row group is the parallelism atom. When the scan
    arrives with fewer splits than defaultParallelism (and the file is
    big enough to matter), add ONE round-robin exchange of the raw rows
    right after the read. At cluster scale inputs arrive with >=
    parallelism splits and this is a no-op — the decision is measured
    per input, not a constant. Filters still reach the scan (predicates
    push through Repartition; locked by
    test_plans.py::test_widened_scan_keeps_pushdown).

    OPT-IN per call site (``load_table(..., wide=True)``), not blanket:
    after the r14 eager-checkpoint restructurings the interleaved A/B at
    sf0.1/32 cores shows the exchange only pays when per-row Python cost
    is extreme — media_decode_jpeg 0.23x, gif 0.67x, audio 0.91x — while
    everywhere else the full-row shuffle costs more than the single-task
    stage it widens (tpch_q17ish 3.1x, wordcount 2.8x, dedup_lines 2.9x,
    text family 1.6-2.1x, minhash 1.2x slower with widening). Only the
    Python-codec pipelines opt in."""
    par = spark.sparkContext.defaultParallelism
    widen = os.path.getsize(path) >= _WIDEN_MIN_BYTES and df.rdd.getNumPartitions() < par
    return df.repartition(par) if widen else df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, wide: bool = False
) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    df = load_events(spark, sf_dir) if name == "events" else _read(spark, path)
    return _widened(spark, df, path) if wide else df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` normalized to bigint epoch-NANOS whatever
    the file's physical type. Generations of the driver testdata have
    shipped ``ts`` as TIMESTAMP(NANOS) (read as its raw long, see
    ``_read``) and as TIMESTAMP(MICROS) (read as timestamp_ntz); every
    downstream query does ``ts div 1000`` to get epoch-us, so the contract
    here is: ``ts`` is always nanos. The session timezone is UTC
    (session.py), so the ntz→timestamp cast below matches DuckDB's
    naive-as-UTC ``epoch_us(ts)`` in the oracles. Read errors surface from
    Spark, with no pandas-side fallback."""
    return _events_norm(load_events_raw(spark, sf_dir))


def _events_norm(df: DataFrame) -> DataFrame:
    """Normalize a raw events frame so ``ts`` is bigint epoch-nanos."""
    if dict(df.dtypes)["ts"].startswith("timestamp"):
        df = df.withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000))
    return df


def load_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as read — ``ts`` may be long (nanos) or timestamp.
    Predicates that must reach the parquet scan (snapshot reads) belong on
    THIS frame, typed against the raw column; `_events_norm`'s
    ``unix_micros`` projection would otherwise block pushdown."""
    return _read(spark, f"{sf_dir}/events.parquet")
