"""Streaming ingest path: mutation stream -> store, watermarked windows.
Mirrors the commitlog/memtable write semantics (SURVEY.md §2.5, §7.2.8)."""

import json

import pytest
from pyspark.sql import functions as F

from apache_cassandra_spark.catalog import Catalog
from apache_cassandra_spark.model import ColumnPath
from apache_cassandra_spark.operators import read
from apache_cassandra_spark.sources.cellstore import CellStore
from apache_cassandra_spark.streaming.ingest import (
    mutation_stream,
    stream_into_store,
    windowed_event_stats,
)


@pytest.fixture()
def store(spark, tmp_path):
    catalog = Catalog.from_dict(
        {
            "KS": {
                "Streamed": {"compare_with": "UTF8Type"},
                "DomStreamed": {"compare_with": "UTF8Type", "domain_split": True},
            }
        }
    )
    return CellStore(spark, str(tmp_path / "store"), catalog)


def write_mutations(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    with open(path / "batch0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_ingest_lww(spark, store, tmp_path):
    src = tmp_path / "mutations"
    write_mutations(
        src,
        [
            {"key": "u1", "sc": None, "column": "6e616d65", "value": "616c696365", "ts": 1, "tombstone": False, "ldt": None},
            {"key": "u1", "sc": None, "column": "6e616d65", "value": "626f62", "ts": 2, "tombstone": False, "ldt": None},
            {"key": "u2", "sc": None, "column": "6e616d65", "value": None, "ts": 3, "tombstone": True, "ldt": 0},
        ],
    )
    cells = mutation_stream(spark, str(src))
    q = stream_into_store(
        cells, store, "KS", "Streamed", str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    cf = store.cf("KS", "Streamed")
    rows = read.get(cf, "u1", ColumnPath("Streamed", column=b"name")).collect()
    assert len(rows) == 1 and bytes(rows[0]["value"]) == b"bob"  # LWW applied at read
    assert read.get_count(cf, "u2").collect()[0]["count"] == 0  # tombstone honored


def test_stream_apply_listener_veto(spark, store, tmp_path):
    src = tmp_path / "mutations2"
    write_mutations(
        src,
        [
            {"key": "keep", "sc": None, "column": "63", "value": "76", "ts": 1, "tombstone": False, "ldt": None},
            {"key": "drop", "sc": None, "column": "63", "value": "76", "ts": 1, "tombstone": False, "ldt": None},
        ],
    )
    cells = mutation_stream(spark, str(src))
    q = stream_into_store(
        cells,
        store,
        "KS",
        "Streamed",
        str(tmp_path / "ckpt2"),
        apply_listener=lambda df: df.where(F.col("key") != "drop"),
        available_now=True,
    )
    q.awaitTermination(120)
    cf = store.cf("KS", "Streamed")
    keys = sorted({r["key"] for r in cf.cells.collect()})
    assert keys == ["keep"]


def test_windowed_stats_stream_matches_batch(spark, tmp_path):
    import pyspark.sql.types as T

    rows1 = [
        (1, 1_000_000 * (3600 * 0 + 5), "click", 1.0),
        (2, 1_000_000 * (3600 * 0 + 6), "click", 2.0),
    ]
    rows2 = [
        # hour 3: advances the watermark (3h - 1h) past window 0's end
        (3, 1_000_000 * (3600 * 3 + 7), "view", 3.0),
    ]
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_micros", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    batch = spark.createDataFrame(rows1 + rows2, schema)
    expected = sorted(tuple(r) for r in windowed_event_stats(batch).collect())

    src = tmp_path / "events_stream"
    src.mkdir()
    # two files + maxFilesPerTrigger=1 -> two micro-batches, so the
    # watermark from batch 1 can close window 0 during batch 2
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(str(src / "f2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out_rows = []

    q = (
        windowed_event_stats(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: out_rows.extend(tuple(r) for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows: window 0, not window 3
    assert set(out_rows) <= set(expected)
    closed = [t for t in expected if t[0] == "1970-01-01 00:00:00"]
    assert sorted(out_rows) == sorted(closed)


# --- streaming dedup ---------------------------------------------------------


def _write_doc_batch(path, name, rows, mtime=None):
    path.mkdir(parents=True, exist_ok=True)
    with open(path / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    if mtime is not None:
        # FileStreamSource orders candidate files by modification time —
        # pin it so batch order is deterministic
        import os

        os.utime(path / name, (mtime, mtime))


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    from apache_cassandra_spark.streaming.dedup import dedup_stream

    src = tmp_path / "docs"
    # batch files are picked up in name order with maxFilesPerTrigger=1:
    # doc 3 (same text as doc 1) arrives in a LATER micro-batch and must be
    # dropped by state carried across batches
    _write_doc_batch(src, "b0.json", [
        {"doc_id": 1, "text": "alpha beta"},
        {"doc_id": 2, "text": "gamma"},
    ], mtime=1_000_000)
    _write_doc_batch(src, "b1.json", [
        {"doc_id": 3, "text": "alpha beta"},
        {"doc_id": 4, "text": "delta"},
    ], mtime=2_000_000)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT doc_id FROM dedup_out").collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2, 4]


def test_dedup_stream_batch_mode_matches_exact_dedup(spark):
    from apache_cassandra_spark.analytics.dedup import exact_dedup
    from apache_cassandra_spark.streaming.dedup import dedup_stream

    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x y"), (3, "z")], "doc_id long, text string"
    )
    batch = dedup_stream(docs)  # batch frame -> plain hash aggregate
    assert batch.count() == 2
    assert {r["content_hash"] for r in batch.collect()} == {
        r["content_hash"]
        for r in exact_dedup(docs).withColumn(
            "content_hash", F.md5(F.col("text"))
        ).select("content_hash").collect()
    }


def test_decode_media_works_on_streams(spark, tmp_path):
    """The multimodal decode path is streaming-capable: mapInPandas is a
    stateless per-row map, so the same operator runs under readStream."""
    from apache_cassandra_spark.analytics.multimodal import decode_media, media_from_documents

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    src = str(tmp_path / "media_parquet")
    media_from_documents(docs).write.parquet(src)
    stream = spark.readStream.schema(
        "media_id long, media_type string, payload binary"
    ).parquet(src)
    q = (
        decode_media(stream)
        .writeStream.format("memory")
        .queryName("media_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_media"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r["media_id"]: r for r in spark.sql("SELECT * FROM media_stream_out").collect()}
    assert len(out) == 6
    assert out[0]["format"] == "ppm" and out[1]["format"] == "wav"
    assert out[2]["width"] == 10 and out[3]["rms"] == 497.0


def test_stream_to_shards_matches_batch_layout(spark, tmp_path):
    """Streaming shard writes land in the batch writer's layout: same
    closed-form shard membership, readable by read_corpus, and a second
    micro-batch round appends without rewriting earlier data."""
    import glob
    import json as _json

    from apache_cassandra_spark.sources.corpus import read_corpus, shard_expr
    from apache_cassandra_spark.streaming.corpus import document_stream, stream_to_shards

    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def arrive(name, ids):
        with open(src / name, "w") as f:
            for i in ids:
                f.write(_json.dumps({"doc_id": i, "text": f"doc {i}"}) + "\n")

    arrive("a.jsonl", range(0, 40))
    stream = document_stream(spark, str(src), schema)
    stream_to_shards(stream, out, ckpt, n_shards=4, available_now=True).awaitTermination(120)
    first_files = set(glob.glob(f"{out}/shard=*/part-*"))
    assert first_files

    arrive("b.jsonl", range(40, 60))
    stream_to_shards(
        document_stream(spark, str(src), schema), out, ckpt, n_shards=4, available_now=True
    ).awaitTermination(120)

    back = read_corpus(spark, out, fmt="parquet")
    assert back.count() == 60
    from pyspark.sql import functions as F

    assert back.where(F.col("shard") != shard_expr("doc_id", 4)).count() == 0
    # append-only: batch 1 files still present, untouched
    assert first_files <= set(glob.glob(f"{out}/shard=*/part-*"))


def test_session_window_matches_lag_based_sessionize(spark):
    """Native session_window membership == the batch lag+running-sum
    sessionization: same (user, session start, end, count) sets on the
    sf0.001 events fixture — the two formulations can't drift."""
    from apache_cassandra_spark.gates.common import load_events
    from apache_cassandra_spark.queries import QUERIES
    from apache_cassandra_spark.streaming.sessions import sessionized_stats

    sf = "/root/testdata/sf0.001"
    ev = load_events(spark, sf).withColumn("ts_micros", F.expr("ts div 1000"))
    native = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in sessionized_stats(ev).collect()
    }
    lag_based = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in QUERIES["events_sessionize"](spark, sf).collect()
    }
    assert native == lag_based


def test_sessionized_stats_streaming_mode(spark, tmp_path):
    """The same operator runs as a stateful stream: session state merges
    across micro-batches and closed sessions emit identical rows."""
    import json as _json

    from apache_cassandra_spark.streaming.sessions import sessionized_stats

    src = tmp_path / "events_in"
    src.mkdir()
    rows = [
        {"user_id": 1, "ts_micros": 0},
        {"user_id": 1, "ts_micros": 60_000_000},          # same session
        {"user_id": 1, "ts_micros": 10_000_000_000},      # new session (gap > 30 min)
        {"user_id": 2, "ts_micros": 0},
    ]
    with open(src / "a.jsonl", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    stream = spark.readStream.schema("user_id long, ts_micros long").json(str(src))
    q = (
        sessionized_stats(stream)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in spark.sql("select * from sess_out").collect()
    }
    assert got == {(1, 0, 60_000_000, 2), (1, 10_000_000_000, 10_000_000_000, 1), (2, 0, 0, 1)}


def test_session_boundary_exact_gap_merges(spark):
    """Boundary semantics, verified against Spark's NATIVE operator: an
    event landing EXACTLY `gap` after the previous one MERGES into the
    session (closed [t, t+gap] interval); only strictly-longer silence
    splits. Both formulations agree on both sides of the boundary —
    the edge where a >= lag rule would silently diverge."""
    from apache_cassandra_spark.streaming.sessions import sessionized_stats

    gap_us = 30 * 60 * 1_000_000
    rows = [
        (1, 0), (1, gap_us),                # exactly gap apart -> SAME session
        (2, 0), (2, gap_us + 1),            # 1us beyond -> 2 sessions
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts_micros long")
    native = sorted(
        (r["user_id"], r["start_us"], r["n_events"]) for r in sessionized_stats(ev).collect()
    )
    assert native == [(1, 0, 2), (2, 0, 1), (2, gap_us + 1, 1)]
    # lag-based path (the events_sessionize rule) must agree
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts_micros")
    lagged = (
        ev.withColumn("_prev", F.lag("ts_micros").over(w))
        .withColumn(
            "_new",
            F.when(F.col("_prev").isNull() | (F.col("ts_micros") - F.col("_prev") > gap_us), 1).otherwise(0),
        )
        .withColumn("session_no", F.sum("_new").over(w))
    )
    lag_sessions = sorted(
        (r["user_id"], r["start_us"], r["n_events"])
        for r in lagged.groupBy("user_id", "session_no")
        .agg(F.min("ts_micros").alias("start_us"), F.count("*").alias("n_events"))
        .collect()
    )
    assert lag_sessions == native


def test_corpus_prep_operators_work_on_streams(spark, tmp_path):
    """The round-3 per-row corpus operators (chunking, within-doc dedup,
    quality gate + importance filter) are stateless maps — the exact same
    operator graph must run under readStream and match its batch output."""
    from apache_cassandra_spark.analytics.dedup import dedup_within_doc
    from apache_cassandra_spark.analytics.pipeline import chunk_documents, sample_by_score
    from apache_cassandra_spark.analytics.text import gopher_quality

    rows = [(i, " ".join(f"w{j % 7}" for j in range(i + 3))) for i in range(12)]
    src = str(tmp_path / "docs_parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    batch_df = spark.read.parquet(src)
    stream_df = spark.readStream.schema("doc_id long, text string").parquet(src)

    def graph(df):
        chunks = chunk_documents(df, window=4, stride=3)
        deduped = dedup_within_doc(
            chunks, text_col="chunk", id_col="doc_id", keep_cols=("chunk_id",)
        )
        scored = gopher_quality(df, min_tokens=1, min_stop_hits=0)
        kept = sample_by_score(scored, F.col("n_tokens") / 20.0)
        return chunks, deduped, kept

    b_chunks, b_dedup, b_kept = graph(batch_df)
    s_chunks, s_dedup, s_kept = graph(stream_df)
    for name, sdf in (("chunks", s_chunks), ("dedup", s_dedup), ("kept", s_kept)):
        q = (
            sdf.writeStream.format("memory")
            .queryName(f"corpus_stream_{name}")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    assert sorted(map(tuple, b_chunks.collect())) == sorted(
        map(tuple, spark.sql("SELECT * FROM corpus_stream_chunks").collect())
    )
    assert sorted(map(tuple, b_dedup.collect())) == sorted(
        map(tuple, spark.sql("SELECT * FROM corpus_stream_dedup").collect())
    )
    assert sorted(map(tuple, b_kept.collect())) == sorted(
        map(tuple, spark.sql("SELECT * FROM corpus_stream_kept").collect())
    )


# --- stream-stream interval join ---------------------------------------------


def _imp_click_frames(spark):
    # impressions (left) and clicks (right); click 902 is outside the
    # 30-minute horizon of impression 2 and must not match
    # base offset keeps event times off epoch 0: a row AT the stream's
    # initial watermark (0) is filtered as late before it can join
    H = 3_600_000_000  # 1h in micros
    imps = [(1, 10 * H, "ad_a"), (1, 12 * H, "ad_b"), (2, 10 * H, "ad_c")]
    clicks = [
        (1, 10 * H + 60_000_000, "c900"),     # matches ad_a (1 min later)
        (1, 12 * H + 120_000_000, "c901"),    # matches ad_b
        (2, 10 * H + 2_700_000_000, "c902"),  # 45 min later: outside horizon
    ]
    li = spark.createDataFrame(imps, "user_id long, ts_micros long, ad string")
    cl = spark.createDataFrame(clicks, "user_id long, ts_micros long, click string")
    return li, cl


def test_interval_join_batch_semantics(spark):
    from apache_cassandra_spark.streaming.joins import interval_join

    li, cl = _imp_click_frames(spark)
    out = interval_join(li, cl, horizon="30 minutes").collect()
    got = sorted((r["user_id"], r["l_ad"], r["r_click"]) for r in out)
    assert got == [(1, "ad_a", "c900"), (1, "ad_b", "c901")]


def test_interval_join_stream_matches_batch(spark, tmp_path):
    from apache_cassandra_spark.streaming.joins import interval_join

    li, cl = _imp_click_frames(spark)
    expected = sorted(
        (r["user_id"], r["left_ts"], r["right_ts"], r["l_ad"], r["r_click"])
        for r in interval_join(li, cl, horizon="30 minutes").collect()
    )

    lsrc, rsrc = tmp_path / "imps", tmp_path / "clicks"
    lsrc.mkdir(), rsrc.mkdir()
    li.coalesce(1).write.parquet(str(lsrc / "f0"))
    cl.coalesce(1).write.parquet(str(rsrc / "f0"))
    ls = (
        spark.readStream.schema("user_id long, ts_micros long, ad string")
        .option("recursiveFileLookup", "true").parquet(str(lsrc))
    )
    rs = (
        spark.readStream.schema("user_id long, ts_micros long, click string")
        .option("recursiveFileLookup", "true").parquet(str(rsrc))
    )
    rows = []
    # watermark must cover the fixture's full event-time spread: availableNow
    # may process the two sources in separate micro-batches, and a tight
    # watermark would drop the older side's rows as late before they join
    q = (
        interval_join(ls, rs, horizon="30 minutes", watermark="1 day")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_ij"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["user_id"], r["left_ts"], r["right_ts"], r["l_ad"], r["r_click"]) for r in rows)
    assert got == expected


def test_embedding_operators_work_on_streams(spark, tmp_path):
    """quantize_embeddings / random_project / filter_blocklist are
    stateless per-row maps (or broadcast anti-joins) — the same operator
    graph must run under readStream and match its batch output."""
    from apache_cassandra_spark.analytics.pipeline import filter_blocklist
    from apache_cassandra_spark.analytics.similarity import quantize_embeddings, random_project

    vec_rows = [(i, [float((i + j) % 5) - 2.0 for j in range(8)]) for i in range(10)]
    vsrc = str(tmp_path / "vecs_parquet")
    spark.createDataFrame(vec_rows, "vec_id long, embedding array<float>").write.parquet(vsrc)
    batch_v = spark.read.parquet(vsrc)
    stream_v = spark.readStream.schema("vec_id long, embedding array<float>").parquet(vsrc)

    doc_rows = [(i, f"src{i % 3}") for i in range(9)]
    dsrc = str(tmp_path / "docs_parquet2")
    spark.createDataFrame(doc_rows, "doc_id long, source string").write.parquet(dsrc)
    batch_d = spark.read.parquet(dsrc)
    stream_d = spark.readStream.schema("doc_id long, source string").parquet(dsrc)

    cases = [
        ("quant", quantize_embeddings(batch_v), quantize_embeddings(stream_v)),
        ("proj", random_project(batch_v, out_dim=2, in_dim=8),
         random_project(stream_v, out_dim=2, in_dim=8)),
        ("block", filter_blocklist(batch_d, ["src1"]), filter_blocklist(stream_d, ["src1"])),
    ]
    for name, bdf, sdf in cases:
        q = (
            sdf.writeStream.format("memory")
            .queryName(f"emb_stream_{name}")
            .option("checkpointLocation", str(tmp_path / f"ckpt_emb_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(map(str, spark.sql(f"SELECT * FROM emb_stream_{name}").collect()))
        want = sorted(map(str, bdf.collect()))
        assert got == want, name


def test_changes_stream_emits_mutations_in_arrival_order(spark, tmp_path, store):
    from apache_cassandra_spark.model import ColumnPath
    from apache_cassandra_spark.operators import write
    from apache_cassandra_spark.streaming.ingest import changes_stream

    store.apply("KS", "Streamed", write.insert("k1", ColumnPath("Streamed", column=b"c"), b"v1", 100))
    store.apply("KS", "Streamed", write.remove("k1", ColumnPath("Streamed", column=b"c"), 200))

    rows = []
    q = (
        changes_stream(store, "KS", "Streamed")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_cdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["key"], bytes(r["column"]), r["ts"], r["tombstone"]) for r in rows)
    assert got == [("k1", b"c", 100, False), ("k1", b"c", 200, True)]

    # a later mutation arrives in the NEXT trigger from the same checkpoint
    store.apply("KS", "Streamed", write.insert("k2", ColumnPath("Streamed", column=b"c"), b"v2", 300))
    rows2 = []
    q = (
        changes_stream(store, "KS", "Streamed")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: rows2.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_cdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [(r["key"], r["ts"]) for r in rows2] == [("k2", 300)]


def test_changes_stream_domain_split_cf_survives_compaction(spark, tmp_path, store):
    """Domain-split CFs stream their ``_dom=XX/`` deltas like any CF, and a
    major compaction writes its generation outside the streamed directory:
    no surviving cell is emitted again."""
    from apache_cassandra_spark.model import ColumnPath
    from apache_cassandra_spark.operators import maintenance, write
    from apache_cassandra_spark.streaming.ingest import changes_stream

    cfn = "DomStreamed"
    batch = write.insert("user_ab", ColumnPath(cfn, column=b"c"), b"v1", 100)
    batch.extend(write.insert("user_cd", ColumnPath(cfn, column=b"c"), b"v2", 100))
    store.apply("KS", cfn, batch)

    def drain():
        rows = []
        q = (
            changes_stream(store, "KS", cfn)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _id: rows.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt_dom"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted((r["key"], r["ts"]) for r in rows)

    assert drain() == [("user_ab", 100), ("user_cd", 100)]
    maintenance.compact(store, "KS", cfn, gc_grace_seconds=0)
    store.apply("KS", cfn, write.insert("user_ab", ColumnPath(cfn, column=b"c"), b"v3", 300))
    assert drain() == [("user_ab", 300)]


def test_dedup_ingest_durable_reference_survives_new_query(spark, tmp_path):
    """The foreachBatch ingest dedup: (a) cross-batch duplicates within
    one run are dropped via the on-disk reference, (b) a SECOND
    streaming query with a FRESH checkpoint still rejects run-1
    duplicates — the durability dropDuplicates' checkpoint state cannot
    provide — and (c) the reference grows by exactly the accepted
    hashes."""
    from apache_cassandra_spark.streaming.dedup import dedup_ingest_foreach_batch

    src = tmp_path / "docs"
    out, ref = str(tmp_path / "out"), str(tmp_path / "ref")
    _write_doc_batch(src, "b0.json", [
        {"doc_id": 1, "text": "alpha beta"},
        {"doc_id": 2, "text": "gamma"},
    ], mtime=1_000_000)
    _write_doc_batch(src, "b1.json", [
        {"doc_id": 3, "text": "alpha beta"},   # cross-batch dup of 1
        {"doc_id": 4, "text": "delta"},
        {"doc_id": 5, "text": "delta"},        # in-batch dup: min-id wins
    ], mtime=2_000_000)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = dedup_ingest_foreach_batch(stream, out, ref, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 4]
    # (c) the durable reference holds exactly the accepted hashes
    assert spark.read.parquet(ref).distinct().count() == 3

    # (b) a brand-new query (fresh checkpoint, fresh source dir) must
    # still reject run-1 content — this is the restart-safe contract
    src2 = tmp_path / "docs2"
    _write_doc_batch(src2, "c0.json", [
        {"doc_id": 6, "text": "gamma"},        # dup of run-1 doc 2
        {"doc_id": 7, "text": "epsilon"},
    ], mtime=3_000_000)
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src2))
    )
    q2 = dedup_ingest_foreach_batch(stream2, out, ref, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    kept2 = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept2 == [1, 2, 4, 7]
    assert spark.read.parquet(ref).distinct().count() == 4


def test_dedup_ingest_replay_overwrites_crashed_partition(spark, tmp_path):
    """Crash-window replay: simulate a batch that died AFTER writing its
    hash partition (and a partial output partition) but BEFORE the
    checkpoint commit. The replay must (a) not anti-join the batch
    against its own crashed hashes (else the output partition would be
    overwritten with nothing) and (b) OVERWRITE both partitions rather
    than append — no duplicates, no stale partial rows."""
    import hashlib

    from apache_cassandra_spark.streaming.dedup import dedup_ingest_foreach_batch

    src = tmp_path / "docs"
    out, ref, ck = str(tmp_path / "out"), str(tmp_path / "ref"), str(tmp_path / "ck")
    _write_doc_batch(src, "b0.json", [
        {"doc_id": 1, "text": "alpha"},
        {"doc_id": 2, "text": "beta"},
    ], mtime=1_000_000)

    # simulate the crashed run's checkpoint: Spark persists the query id
    # in <ck>/metadata at first start and REUSES it on restart — plant it
    # so the replay recomputes the same commit token the crash used
    import json
    import os

    os.makedirs(ck, exist_ok=True)
    crashed_qid = "deadbeef-dead-beef-dead-beefdeadbeef"
    with open(f"{ck}/metadata", "w") as f:
        f.write(json.dumps({"id": crashed_qid}))
    qtoken = crashed_qid.replace("-", "")[:16]
    commit0 = f"{qtoken}-{0:012d}"
    spark.createDataFrame(
        [("stale-partial", 99)], "text string, doc_id long"
    ).withColumn("content_hash", F.md5(F.col("text"))).write.parquet(
        f"{out}/_commit={commit0}"
    )
    spark.createDataFrame(
        [(hashlib.md5(b"alpha").hexdigest(),), (hashlib.md5(b"beta").hexdigest(),)],
        "content_hash string",
    ).write.parquet(f"{ref}/_commit={commit0}")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = dedup_ingest_foreach_batch(stream, out, ref, ck)
    q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 2]  # not emptied by self-anti-join, no stale row 99
    hashes = {r["content_hash"] for r in spark.read.parquet(ref).collect()}
    assert hashes == {hashlib.md5(b"alpha").hexdigest(), hashlib.md5(b"beta").hexdigest()}


def test_dedup_ingest_rebuilt_checkpoint_preserves_history(spark, tmp_path):
    """rm -rf the checkpoint and rerun the SAME pipeline at the SAME
    path: Spark mints a new query id, so the rerun's batch 0 must NOT
    collide with the old run's batch-0 partition (a path-derived token
    would exclude-and-overwrite it — data loss); the replayed source
    docs anti-join history and the corpus stays duplicate-free."""
    import shutil

    from apache_cassandra_spark.streaming.dedup import dedup_ingest_foreach_batch

    src = tmp_path / "docs"
    out, ref, ck = str(tmp_path / "out"), str(tmp_path / "ref"), str(tmp_path / "ck")
    _write_doc_batch(src, "b0.json", [
        {"doc_id": 1, "text": "alpha"},
        {"doc_id": 2, "text": "beta"},
    ], mtime=1_000_000)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).json(str(src))
    )
    dedup_ingest_foreach_batch(stream, out, ref, ck).awaitTermination(120)
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == [1, 2]

    shutil.rmtree(ck)  # rebuild: new query id, batch ids restart at 0
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).json(str(src))
    )
    dedup_ingest_foreach_batch(stream2, out, ref, ck).awaitTermination(120)
    # the re-read docs are duplicates of history: dropped, nothing lost
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == [1, 2]


def test_url_dedup_ingest_durable_reference(spark, tmp_path):
    """URL-level durable ingest: cross-batch URL duplicates drop against
    the on-disk canonical-URL table (even with different CONTENT — URL
    identity, not content identity), canonicalization variants collapse,
    in-batch min-id wins, and a fresh second query still rejects run-1
    URLs."""
    from apache_cassandra_spark.streaming.dedup import url_dedup_ingest_foreach_batch

    src = tmp_path / "crawl"
    out, ref = str(tmp_path / "uout"), str(tmp_path / "uref")
    _write_doc_batch(src, "b0.json", [
        {"doc_id": 1, "url": "HTTP://WWW.A.com/p?utm_s=1", "text": "v1"},
        {"doc_id": 2, "url": "http://b.com/q", "text": "x"},
    ], mtime=1_000_000)
    _write_doc_batch(src, "b1.json", [
        # same canonical URL as doc 1, different content: URL wins = drop
        {"doc_id": 3, "url": "http://a.com/p", "text": "v2 CHANGED"},
        # in-batch canonicalization collision: min-id 4 wins over 5
        {"doc_id": 5, "url": "http://c.com/r?b=2&a=1", "text": "y"},
        {"doc_id": 4, "url": "http://c.com/r?a=1&b=2", "text": "y2"},
    ], mtime=2_000_000)
    stream = (
        spark.readStream.schema("doc_id long, url string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = url_dedup_ingest_foreach_batch(stream, out, ref, str(tmp_path / "uck1"))
    q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 4]
    refs = sorted(r["canonical_url"] for r in spark.read.parquet(ref).distinct().collect())
    assert refs == ["http://a.com/p?utm_s=1".replace("?utm_s=1", ""),
                    "http://b.com/q", "http://c.com/r?a=1&b=2"]

    # fresh checkpoint, fresh source: run-1 URLs still rejected
    src2 = tmp_path / "crawl2"
    _write_doc_batch(src2, "c0.json", [
        {"doc_id": 6, "url": "https://B.com:443/../q".replace("/../", "/"), "text": "z"},
        {"doc_id": 7, "url": "http://d.com/new", "text": "w"},
    ], mtime=3_000_000)
    stream2 = (
        spark.readStream.schema("doc_id long, url string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src2))
    )
    q2 = url_dedup_ingest_foreach_batch(stream2, out, ref, str(tmp_path / "uck2"))
    q2.awaitTermination(120)
    kept2 = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    # doc 6 is https://b.com/q vs run-1's http://b.com/q — DIFFERENT
    # canonical URL (scheme matters), so it is admitted
    assert kept2 == [1, 2, 4, 6, 7]
    assert spark.read.parquet(ref).distinct().count() == 5


def test_url_dedup_ingest_drops_null_url_and_null_id_rows(spark, tmp_path):
    """NULL url can never anti-join (one url-less dup admitted per batch
    forever) and NULL ids would sort FIRST under the winner window —
    both are dropped up front, matching dedup_against_reference's
    NULL-id convention and web.dedup_urls' NULL-skipping min."""
    from apache_cassandra_spark.streaming.dedup import url_dedup_ingest_foreach_batch

    src = tmp_path / "crawl_nulls"
    out, ref = str(tmp_path / "nout"), str(tmp_path / "nref")
    _write_doc_batch(src, "b0.json", [
        {"doc_id": None, "url": "http://a.com/p", "text": "nullid"},
        {"doc_id": 2, "url": "http://a.com/p", "text": "real"},
        {"doc_id": 3, "url": None, "text": "nourl"},
    ], mtime=1_000_000)
    stream = (
        spark.readStream.schema("doc_id long, url string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = url_dedup_ingest_foreach_batch(stream, out, ref, str(tmp_path / "nck"))
    q.awaitTermination(120)
    kept = [(r["doc_id"], r["canonical_url"]) for r in spark.read.parquet(out).collect()]
    assert kept == [(2, "http://a.com/p")]
    refs = [r["canonical_url"] for r in spark.read.parquet(ref).collect()]
    assert refs == ["http://a.com/p"]
