"""Streaming gates: each replays a fixture table through Structured
Streaming micro-batches and must converge to its batch twin's rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_cassandra_spark.gates import cass, events
from apache_cassandra_spark.gates.cass import _event_cells, _strings
from apache_cassandra_spark.gates.common import load_events, load_table, scratch_dir


def q_streaming_sessions_replay(spark, sf_dir):
    """Native stateful session windows in the gate: the events table
    replayed through a REAL multi-micro-batch stream (file source with
    maxFilesPerTrigger) into ``session_window`` state, complete-mode
    memory sink — per-(user, session) aggregates must hash-match the
    same DuckDB lag-based sessionization model as ``events_sessionize``
    (the batch/stream equivalence tests pin the membership rule; this
    entry puts the STREAMING execution itself under the oracle). Session
    state merges across micro-batches, so the result is independent of
    the nondeterministic file split."""
    import shutil

    from apache_cassandra_spark.streaming.sessions import sessionized_stats

    ev = load_events(spark, sf_dir).select(
        "user_id", F.expr("ts div 1000").alias("ts_micros")
    )
    # unlike the LWW replay's parquet staging, the memory sink holds the
    # result rows in the driver — the source copy is dead once the query
    # terminates, so clean it up instead of leaking a full events copy
    # per invocation
    root = scratch_dir("sess_gate_")
    src = f"{root}/src"
    ev.repartition(6).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts_micros long")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    view = "stream_sessions_gate"
    spark.catalog.dropTempView(view)  # returns False if absent
    try:
        q = (
            # watermark OFF: replaying history from unordered files would
            # late-drop everything a batch behind the running max event time
            sessionized_stats(stream, watermark=None)
            .writeStream.format("memory")
            .queryName(view)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("streaming sessions replay did not finish")
    finally:
        # memory sink rows live in the driver; the source copy is dead
        # whether the stream finished or raised — never leak it
        shutil.rmtree(root, ignore_errors=True)
    return spark.table(view).select("user_id", "n_events", "start_us", "end_us")


def q_streaming_lww_replay(spark, sf_dir):
    """Stateful streaming in the gate: the SAME event-derived cell log as
    ``cass_lww_events``, replayed through a REAL multi-micro-batch
    Structured Streaming pipeline — file source with maxFilesPerTrigger,
    ``applyInPandasWithState`` incremental LWW (``streaming.stateful``),
    ``foreachBatch`` sink staging each batch's state *changes* — then the
    last emitted update per coordinate is the final materialized state.
    Hash-matched against the identical DuckDB model as the batch view:
    commitlog-replay parity (reference ``db/commitlog/CommitLog.java:168-189``
    recovers the memtable by replaying mutations through ``resolve``; the
    stream is that replay, incrementalized — ``db/Memtable.java:120-139``).

    Batch boundaries don't affect the fixpoint (LWW is commutative +
    idempotent), so the nondeterministic file split is safe; what the
    gate pins is that losers emit nothing, winners overwrite state, and
    the final state equals the one-shot reconcile."""

    from pyspark.sql import Window

    from apache_cassandra_spark.streaming.stateful import lww_updates

    cells = _event_cells(spark, sf_dir).drop("ldt")
    root = scratch_dir("stream_gate_")  # left for the lazy read
    src, staging, ckpt = f"{root}/src", f"{root}/updates", f"{root}/ckpt"
    cells.repartition(8).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(cells.schema).option("maxFilesPerTrigger", 2).parquet(src)
    updates = lww_updates(stream)

    def sink(df, bid):
        df.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(staging)

    q = (
        updates.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("streaming LWW replay did not finish")

    upd = spark.read.parquet(staging)
    # the reduction key must equal lww_updates' STATE key (key, sc,
    # column) — dropping sc happened to work only because _event_cells
    # hardcodes sc=NULL; a super-CF log would lose coordinates
    w = Window.partitionBy("key", "sc", "column").orderBy(F.col("batch_id").desc())
    final = upd.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    return _strings(final.where(~F.col("tombstone")), with_ts=True)


def q_streaming_interval_join_replay(spark, sf_dir):
    """Fourth streaming gate: a REAL stream-stream event-time join —
    views and clicks staged to two parquet dirs, each streamed with its
    own maxFilesPerTrigger, joined by the SAME ``interval_join`` operator
    the batch ``events_interval_join`` gate runs (user equi-key + 1-hour
    event-time range), append-mode memory sink. The symmetric-hash join
    state buffers both sides, so every (view, click) pair is emitted
    exactly once regardless of which micro-batch either side arrives in
    — the post-termination roll-up hash-matches the batch oracle.
    Watermark OFF: unordered replay with watermarks would expire state
    early and silently lose pairs (inner joins need no watermark for
    correctness — only for state cleanup on live streams)."""
    import shutil

    from apache_cassandra_spark.streaming.joins import interval_join

    ev = load_events(spark, sf_dir).withColumn("ts_micros", F.expr("ts div 1000"))
    root = scratch_dir("ij_gate_")
    for side in ("view", "click"):
        (
            ev.where(F.col("event_type") == side)
            .select("user_id", "ts_micros", "event_id")
            .repartition(4)
            .write.mode("overwrite")
            .parquet(f"{root}/{side}")
        )
    schema = "user_id long, ts_micros long, event_id long"
    views = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2)
        .parquet(f"{root}/view")
    )
    clicks = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/click")
    )
    view = "stream_ij_gate"
    spark.catalog.dropTempView(view)  # returns False if absent
    try:
        q = (
            interval_join(views, clicks, horizon="1 hour", watermark=None)
            .writeStream.format("memory")
            .queryName(view)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("streaming interval join replay did not finish")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return (
        spark.table(view)
        .groupBy(F.pmod("user_id", F.lit(100)).cast("int").alias("user_bucket"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q_streaming_windowed_replay(spark, sf_dir):
    """Third streaming gate: native tumbling-window aggregation under a
    REAL multi-micro-batch stream — the events table staged to parquet,
    streamed with maxFilesPerTrigger, through the SAME
    ``windowed_event_stats`` operator the batch ``events_windowed`` gate
    runs, complete-mode memory sink. Window state merges across
    micro-batches (decimal sums are associative), so the result is
    independent of the nondeterministic file split and hash-matches the
    batch oracle. Watermark OFF — replaying unordered history with a
    watermark silently late-drops rows (the r5 sessions pitfall)."""
    import shutil

    from apache_cassandra_spark.streaming.ingest import windowed_event_stats

    ev = load_events(spark, sf_dir).select(
        F.expr("ts div 1000").alias("ts_micros"), "event_type", "value"
    )
    root = scratch_dir("win_gate_")
    src = f"{root}/src"
    ev.repartition(6).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("ts_micros long, event_type string, value double")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    view = "stream_windowed_gate"
    spark.catalog.dropTempView(view)  # returns False if absent
    try:
        q = (
            windowed_event_stats(stream, watermark=None)
            .writeStream.format("memory")
            .queryName(view)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("streaming windowed replay did not finish")
    finally:
        # memory sink rows live in the driver; the staged source copy is
        # dead whether the stream finished or raised — never leak it
        shutil.rmtree(root, ignore_errors=True)
    return spark.table(view).select("window_start", "event_type", "n", "total")


def q_streaming_dedup_replay(spark, sf_dir):
    """Fifth streaming gate: stateful streaming DEDUP AGGREGATION — the
    documents table staged to parquet, streamed across multiple
    micro-batches (maxFilesPerTrigger=2 over 6 files), grouped by the
    SAME md5 content hash batch ``exact_dedup`` uses, keeping the
    min-id representative and the duplicate count in complete-mode
    state. min/count are associative, so the final state is independent
    of the nondeterministic file split and hash-matches the batch
    oracle. (dropDuplicates would be first-ARRIVAL-wins — split-
    dependent — which is exactly why the gate pins the aggregate form.)"""
    import shutil

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = scratch_dir("dedup_gate_")
    src = f"{root}/src"
    docs.repartition(6).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    view = "stream_dedup_gate"
    spark.catalog.dropTempView(view)
    try:
        # md5(text) directly — the batch exact_dedup key — NOT
        # streaming.dedup.content_hash: its concat_ws coalesces NULL text
        # to md5('') while the oracle's md5(text) keeps NULL, and the two
        # would group NULL-text rows differently
        q = (
            stream.withColumn("content_hash", F.md5("text"))
            .groupBy("content_hash")
            .agg(
                F.min("doc_id").alias("keeper_id"),
                F.count(F.lit(1)).cast("long").alias("n_copies"),
            )
            .writeStream.format("memory")
            .queryName(view)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("streaming dedup replay did not finish")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.table(view).select("content_hash", "keeper_id", "n_copies")


def q_streaming_watermark_replay(spark, sf_dir):
    """Seventh streaming gate — the first to run a watermark LIVE and
    hash-match the late-DROP semantics themselves. Events are staged
    into four single-file micro-batches in a deterministic order
    (batch b = user_id % 4, strictly increasing mtimes, one file per
    trigger), then aggregated with ``withWatermark('1 hour')`` in
    APPEND mode. The oracle replays Spark's exact micro-batch watermark
    contract, calibrated empirically on this engine and pinned by
    tests/test_streaming_watermark.py:

    * the late filter of batch b uses the watermark derived from
      batches 0..b−2 (one full batch of lag: the watermark computed
      from batch b−1's event-time stats takes effect only in b+1);
    * a row is dropped iff its WINDOW END <= that watermark (window
      basis, inclusive boundary — not the row's own event time);
    * append emission at availableNow drain: windows with
      end <= cummax(all batches) − delay, also inclusive.

    The lag makes filter and eviction consistent (a window evicted by
    the end of batch b−1 is exactly one whose rows batch b's filter
    drops), so every emitted (window, type) key appears once with the
    aggregate over ALL its kept rows — which is what makes an exact
    SQL replay possible at all. Unlike the other six gates this result
    is file-ORDER-dependent by design; the staging pins the order."""
    import glob
    import os
    import shutil

    from apache_cassandra_spark.streaming.ingest import windowed_event_stats

    ev = load_events(spark, sf_dir).select(
        F.expr("ts div 1000").alias("ts_micros"),
        "event_type",
        "value",
        # pmod + coalesce, not %: a negative user_id under % lands in
        # -3..-1 and a NULL user_id yields NULL — either would match no
        # staged file (row silently lost from the Spark side while the
        # oracle still counts it in the final-watermark max)
        F.pmod(F.coalesce(F.col("user_id"), F.lit(0)), F.lit(4)).alias("b"),
    )
    root = scratch_dir("wm_gate_")
    src = f"{root}/src"
    os.makedirs(src)
    view = "stream_watermark_gate"
    spark.catalog.dropTempView(view)
    try:
        for b in range(4):
            tmp = f"{root}/t{b}"
            ev.where(F.col("b") == b).drop("b").coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            part = glob.glob(f"{tmp}/part-*.parquet")[0]
            dst = f"{src}/batch{b}.parquet"
            shutil.move(part, dst)
            # FileStreamSource drains oldest-mtime-first: +100s per file
            # pins batch order = declared order (ties impossible)
            os.utime(dst, (1_000_000 + b * 100, 1_000_000 + b * 100))
        stream = (
            spark.readStream.schema("ts_micros long, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(src)
        )
        q = (
            windowed_event_stats(stream, watermark="1 hour")
            .writeStream.format("memory")
            .queryName(view)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("streaming watermark replay did not finish")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.table(view).select("window_start", "event_type", "n", "total")


def q_streaming_heavy_hitters_replay(spark, sf_dir):
    """Sixth streaming gate (round-8 window): per-type user counts as a
    complete-mode streaming aggregation replayed across micro-batches,
    then the SAME deterministic top-5 rank applied to the final state —
    counts merge associatively, so the result is independent of the file
    split and matches the batch events_heavy_hitters oracle."""
    import shutil

    from pyspark.sql import Window

    # NULL users dropped to match heavy_hitters' policy (Spark ranks
    # ascending NULLS FIRST, DuckDB NULLS LAST — dropping is the only
    # engine-exact choice)
    ev = (
        load_events(spark, sf_dir)
        .where(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
    )
    root = scratch_dir("hh_gate_")
    src = f"{root}/src"
    ev.repartition(6).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    view = "stream_hh_gate"
    spark.catalog.dropTempView(view)
    try:
        q = (
            stream.groupBy("event_type", "user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .writeStream.format("memory")
            .queryName(view)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("streaming heavy-hitters replay did not finish")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    w = Window.partitionBy("event_type").orderBy(F.col("cnt").desc(), F.col("user_id"))
    return (
        spark.table(view)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("event_type", "user_id", "cnt", F.col("rk").cast("int").alias("rk"))
    )


#: the DuckDB SQL each exactly-checked builder above must match
ORACLES: dict[str, str] = {}
# same lag-based session model as events_sessionize, minus the ordinal
# (the streaming operator emits per-session aggregates, not ids)
ORACLES["streaming_sessions_replay"] = """
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        flagged AS (SELECT user_id, event_id, us,
                           CASE WHEN lag(us) OVER w IS NULL
                                     OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS newf
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        sess AS (SELECT user_id, us,
                        cast(sum(newf) OVER (PARTITION BY user_id ORDER BY us, event_id) AS bigint) AS session_no
                 FROM flagged)
        SELECT user_id, cast(count(*) as bigint) AS n_events,
               min(us) AS start_us, max(us) AS end_us
        FROM sess GROUP BY user_id, session_no
    """
# the streaming replay fixpoint IS the batch LWW view — same oracle model
ORACLES["streaming_lww_replay"] = cass.ORACLES["cass_lww_events"]
# the symmetric-hash stream-stream join emits each qualifying pair exactly
# once whatever the micro-batch split — same oracle model as the batch join
ORACLES["streaming_interval_join_replay"] = events.ORACLES["events_interval_join"]
# tumbling-window state merged across micro-batches converges to the
# batch aggregate — the oracle string moved here from the retired
# events_windowed gate (r12; same implementation, strictly stronger
# replay check on top)
ORACLES["streaming_windowed_replay"] = """
        SELECT strftime(make_timestamp((epoch_us(ts) // 3600000000) * 3600000000), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n,
               cast(sum(cast(value as decimal(18,4))) as double) AS total
        FROM events GROUP BY 1, 2
    """
# streaming min/count dedup state converges to the batch hash aggregate
ORACLES["streaming_dedup_replay"] = """
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keeper_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
"""
# Exact replay of the micro-batch watermark contract (see
# q_streaming_watermark_replay): batch b = user_id % 4; the late filter
# of batch b uses cummax(batch max event time over 0..b-2) − 1h (the
# one-batch lag, NULL for b <= 1 ⇒ no drops); drop iff window END <=
# that watermark; append-emit iff window end <= global max − 1h. All
# boundaries inclusive, pinned by tests/test_streaming_watermark.py.
ORACLES["streaming_watermark_replay"] = """
    WITH e AS (SELECT epoch_us(ts) AS tsu, event_type, value,
                      ((coalesce(user_id, 0) % 4) + 4) % 4 AS b
               FROM events),
    -- all four staged batch slots, even data-empty ones: an empty file
    -- still runs as a micro-batch and occupies a slot in the one-batch
    -- watermark lag, so the ROWS frame below must count batch NUMBERS,
    -- not just batches that happen to hold rows (max ignores the NULLs)
    slots AS (SELECT unnest(generate_series(0, 3)) AS b),
    bm AS (SELECT s.b, max(e.tsu) AS mx
           FROM slots s LEFT JOIN e ON e.b = s.b GROUP BY s.b),
    wm AS (SELECT b,
                  max(mx) OVER (ORDER BY b
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
                      - 3600000000 AS fwm
           FROM bm),
    kept AS (SELECT e.tsu, e.event_type, e.value
             FROM e JOIN wm USING (b)
             WHERE wm.fwm IS NULL
                OR ((e.tsu // 3600000000) + 1) * 3600000000 > wm.fwm),
    fin AS (SELECT max(tsu) - 3600000000 AS w FROM e),
    agg AS (SELECT (tsu // 3600000000) * 3600000000 AS ws, event_type,
                   cast(count(*) as bigint) AS n,
                   cast(sum(cast(value as decimal(18,4))) as double) AS total
            FROM kept GROUP BY 1, 2)
    SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, n, total
    FROM agg, fin WHERE ws + 3600000000 <= fin.w
"""
# the streaming complete-mode counts converge to the batch frequency
# table; the same deterministic top-5 rank applies to both
ORACLES["streaming_heavy_hitters_replay"] = """
    SELECT event_type, user_id, cnt, cast(rk as int) AS rk FROM (
      SELECT event_type, user_id, count(*) AS cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY count(*) DESC, user_id) AS rk
      FROM events WHERE user_id IS NOT NULL
      GROUP BY event_type, user_id) t
    WHERE rk <= 5
"""
