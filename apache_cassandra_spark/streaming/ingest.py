"""Structured-Streaming ingest: the commitlog/memtable write path,
re-expressed as a stream.

Reference semantics being mirrored:

* mutation stream -> per-batch atomic append == ``RowMutation.apply`` +
  group commit (``db/commitlog/BatchCommitLogExecutorService.java``); a
  ``foreachBatch`` micro-batch is exactly the reference's group-committed
  WAL segment, and checkpoint-based replay is its ``recover()``
  (``db/commitlog/CommitLog.java:168-189``).
* ``gcGraceSeconds`` is the reference's lateness bound — a write older than
  the grace period can no longer beat the tombstones that might have
  shadowed it — so it maps naturally onto ``withWatermark``.
* ``IStoreApplyListener.preapply`` veto (fork, ``db/Table.java:572-588``)
  -> an optional per-batch filter function.

Scale: the stream never touches the driver; each micro-batch is a
distributed append partitioned like the base table.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_cassandra_spark.sources.cellstore import CELL_SCHEMA, CellStore

#: JSON-lines mutation schema accepted from the wire; binary fields hex-coded
MUTATION_JSON_SCHEMA = (
    "key string, sc string, column string, value string, ts long, tombstone boolean, ldt int"
)


def mutation_stream(spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of JSON-lines mutations -> streaming cell frame."""
    reader = spark.readStream.schema(MUTATION_JSON_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.json(source_dir)
    return raw.select(
        F.col("key"),
        F.unhex("sc").alias("sc"),
        F.unhex("column").alias("column"),
        F.unhex("value").alias("value"),
        F.col("ts"),
        F.coalesce("tombstone", F.lit(False)).alias("tombstone"),
        F.col("ldt"),
    )


def stream_into_store(
    cells: DataFrame,
    store: CellStore,
    keyspace: str,
    cf_name: str,
    checkpoint_dir: str,
    apply_listener: Callable[[DataFrame], DataFrame] | None = None,
    available_now: bool = False,
):
    """Run the mutation stream into a CF. Returns the StreamingQuery.

    ``apply_listener``: optional pre-write transform/veto over each batch
    (the fork's IStoreApplyListener hook)."""

    def commit(batch: DataFrame, batch_id: int) -> None:
        if apply_listener is not None:
            batch = apply_listener(batch)
        store.bulk_load(keyspace, cf_name, batch)

    writer = cells.writeStream.foreachBatch(commit).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_stats(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str | None = "1 hour",
    ts_col: str = "ts_micros",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream —
    the reference's client-timestamp + gcGraceSeconds lateness model as a
    Structured Streaming windowed agg. Works on both streaming and batch
    frames (for oracle comparison).

    ``watermark=None`` disables late-data dropping: REQUIRED for
    historical replay (complete-mode, unordered files), where a
    watermark would silently drop every row a micro-batch behind the
    running max event time — the r5 sessions-replay pitfall. Keep a
    watermark for live append-mode streams so window state is evicted."""
    with_ts = events.withColumn("_event_time", F.timestamp_micros(F.col(ts_col)))
    if with_ts.isStreaming and watermark is not None:
        with_ts = with_ts.withWatermark("_event_time", watermark)
    return (
        with_ts.groupBy(F.window("_event_time", window_duration).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
    )


def changes_stream(store: CellStore, ks: str, cf: str) -> DataFrame:
    """CDC *out*: the CF's delta directory as a streaming source — every
    durable mutation (insert or tombstone) appears as one cell row in
    arrival order. The write path appends immutable Parquet files per
    commit (the WAL), which is exactly the contract Spark's file stream
    source tails, so the store's changelog needs no extra machinery:
    downstream jobs (cache invalidation, replica feeds, materialized
    views) subscribe with a checkpoint and replay.

    Raw multi-version cells, NOT the LWW view: consumers see every
    write, including ones a newer timestamp later shadows (that's what
    a changelog is).

    Retention contract — the commitlog analogy cuts both ways: major
    compaction CONSUMES the delta files (they are folded into the next
    compacted generation, which lives outside the delta directory, and
    removed), exactly as the reference recycles commitlog segments once
    their memtables flush (``db/commitlog/CommitLog.java`` segment
    deletion). A subscriber must therefore drain the changelog before
    compaction runs (schedule compaction after the subscriber checkpoint
    advances, or don't compact the CF while a subscription is live);
    replay reaches back to the last compaction, not the beginning of
    time, and never re-emits a cell the compaction kept. Domain-split CFs
    stream the same way: their ``_dom=XX/`` delta directories are read
    as partitions of the one changelog."""
    return store.spark.readStream.schema(CELL_SCHEMA).parquet(store._cells_dir(ks, cf))
