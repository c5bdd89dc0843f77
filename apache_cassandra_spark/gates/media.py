"""Media gates: audio features, frame sampling, and image decode/resize
through the Python codec pipelines (the only callers of
``load_table(..., wide=True)``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_cassandra_spark.analytics import multimodal
from apache_cassandra_spark.gates.common import load_table


def q_media_audio_features(spark, sf_dir):
    """Signal-level audio features over JVM-generated sawtooth WAVs:
    Spark builds real RIFF/PCM16 bytes from doc_id arithmetic, Python
    decodes them with stdlib wave + numpy, and the oracle recomputes
    every field from the same arithmetic — the binary round-trip is the
    thing under test. All sums are integer-exact in doubles, so rounded
    values match bit-for-bit."""
    from apache_cassandra_spark.analytics.multimodal import (
        audio_features,
        synthetic_wav_sawtooth_payload,
    )

    # wide=True: stdlib-wave + numpy decode per row (A/B 0.91x widened)
    docs = load_table(spark, sf_dir, "documents", wide=True)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        synthetic_wav_sawtooth_payload(F.col("doc_id")).alias("payload"),
    )
    return audio_features(media)


def q_media_frame_sample(spark, sf_dir):
    """Every-2nd-frame sampling over JVM-generated multi-frame P6 video
    containers: Spark builds the concatenated-frame bytes from doc_id
    arithmetic, Python walks and decodes the stream, the oracle replays
    the frame/color arithmetic."""
    from apache_cassandra_spark.analytics.multimodal import (
        sample_frames,
        synthetic_video_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        synthetic_video_payload(F.col("doc_id")).alias("payload"),
    )
    return sample_frames(media, every_k=2)


def q_media_decode(spark, sf_dir):
    """REAL multimodal decode in the gate: PPM/WAV payloads are generated
    JVM-side from doc_id arithmetic (``multimodal.media_from_documents``),
    parsed byte-by-byte in Arrow-batched Python
    (``multimodal.decode_media`` → ``analytics.codecs``), and the oracle
    recomputes every decoded field from the same arithmetic — if the
    parser misreads a header or a sample, the hash mismatches."""
    docs = load_table(spark, sf_dir, "documents")
    dec = multimodal.decode_media(multimodal.media_from_documents(docs))
    return dec.select(
        "media_id",
        "n_bytes",
        "format",
        "width",
        "height",
        "channels",
        "sample_rate",
        "n_frames",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("rms", 6).alias("rms"),
    )


def q_media_resize(spark, sf_dir):
    """REAL resize in the gate: the PPM/WAV fixture corpus goes through
    ``multimodal.resize_media`` (decode raster → integer nearest-neighbor
    → re-encode P6) and the resized payloads are then *decoded again*; the
    oracle recomputes every post-resize field from doc_id arithmetic
    (4×3 dims, 47-byte P6, constant fill preserved; WAV rows pass through
    to the original decode record untouched)."""
    docs = load_table(spark, sf_dir, "documents")
    resized = multimodal.resize_media(multimodal.media_from_documents(docs), width=4, height=3)
    dec = multimodal.decode_media(resized)
    return dec.select(
        "media_id",
        "n_bytes",
        "format",
        "width",
        "height",
        "channels",
        "sample_rate",
        "n_frames",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("rms", 6).alias("rms"),
    )


def q_media_decode_png(spark, sf_dir):
    """Compressed-container decode in the gate: every payload is a REAL
    spec-valid PNG generated from pure JVM expressions (stored-block
    deflate + closed-form Adler32 + builtin crc32 — see
    ``multimodal.synthetic_png_payload``), parsed by the honest Python
    PNG decoder (chunk/CRC walk, zlib inflate, scanline unfilter). The
    oracle recomputes every field from doc_id arithmetic; a wrong header
    read, bad checksum, or mis-unfiltered scanline mismatches the hash."""
    docs = load_table(spark, sf_dir, "documents")
    dec = multimodal.decode_media(multimodal.png_media_from_documents(docs))
    return dec.select(
        "media_id",
        "n_bytes",
        "format",
        "width",
        "height",
        "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def q_media_decode_jpeg(spark, sf_dir):
    """Baseline-JPEG decode in the gate: every payload is a REAL T.81
    sequential-baseline JPEG (Annex K Huffman tables, all-ones
    quantization) encoded on the executors from doc_id arithmetic
    (``multimodal.jpeg_media_from_documents`` — grayscale / 4:4:4 /
    4:2:0 by ``doc_id % 3``, dims off the MCU grid), then decoded by the
    full Huffman/IDCT/upsample decoder (``analytics.jpeg``). With
    all-ones qtables a constant fill is exact through the DCT chain, so
    the only lossy step is the JFIF color convert — whose IEEE-double
    expression chain the oracle replays verbatim (same left-associated
    operand order, same floor(x+0.5) rounding). A misread Huffman code,
    bad restart handling, wrong dequant, or misaligned upsample all
    shift the decoded means and mismatch the hash.

    Reference parity: media are opaque byte[] column values
    (``db/ColumnFamily.java:37``); decode was client-side there,
    first-class mapInPandas here."""
    # wide=True: the pure-Python T.81 decode is ~4x the scan cost, so the
    # single-split input must be spread before the codec stage (A/B 0.23x)
    docs = load_table(spark, sf_dir, "documents", wide=True)
    # exact_jpeg pins the from-scratch decoder: the oracle replays ITS
    # IEEE-double color-convert chain; libjpeg's integer rounding (the
    # optional Pillow fast path) can differ by ±1 per pixel
    dec = multimodal.decode_media(
        multimodal.jpeg_media_from_documents(docs), exact_jpeg=True
    )
    return dec.select(
        "media_id",
        "format",
        "width",
        "height",
        "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def q_media_decode_gif(spark, sf_dir):
    """LZW-container decode in the gate: every payload is a real GIF87a
    (palette + real LZW stream, built per row in mapInPandas) of
    doc_id-parametric two-color column stripes, decoded by the honest
    GIF parser (header/palette/extension walk + full variable-width LZW
    with table growth and clear-reset). GIF is lossless so the oracle
    recomputes every field from the stripe arithmetic; a wrong palette
    read, a misstepped LZW width bump, or a dropped sub-block shifts the
    means and mismatches the hash."""
    # wide=True: per-row Python LZW decode dominates (A/B 0.67x widened)
    docs = load_table(spark, sf_dir, "documents", wide=True)
    dec = multimodal.decode_media(multimodal.gif_media_from_documents(docs))
    return dec.select(
        "media_id",
        "format",
        "width",
        "height",
        "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


#: the DuckDB SQL each exactly-checked builder above must match
ORACLES: dict[str, str] = {}
# sawtooth sample i = ((doc_id*31 + i*411) % 2048) - 1024 over
# 50 + doc_id%50 frames at 8 kHz; zero crossings = sign flips with
# zero counted non-negative (lag over sample index)
ORACLES["media_audio_features"] = """
        WITH n AS (SELECT doc_id, 50 + doc_id % 50 AS nf FROM documents),
        s AS (SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS i FROM n),
        v AS (SELECT doc_id, nf, i,
                     ((doc_id*31 + i*411) % 2048) - 1024 AS samp
              FROM s),
        f AS (SELECT doc_id, nf, i, samp,
                     CASE WHEN (samp >= 0) <> lag(samp >= 0) OVER (PARTITION BY doc_id ORDER BY i)
                          THEN 1 ELSE 0 END AS zc
              FROM v)
        SELECT doc_id AS media_id,
               cast(8000 as int) AS sample_rate,
               cast(any_value(nf) as int) AS n_frames,
               round(any_value(nf) * 1000.0 / 8000, 6) AS duration_ms,
               round(sqrt(sum(samp * samp) / count(*)), 6) AS rms,
               cast(max(abs(samp)) as int) AS peak,
               cast(sum(zc) as int) AS n_zero_cross,
               round(sum(samp) / count(*), 6) AS mean_amp
        FROM f GROUP BY doc_id
    """
# video container: 2 + doc_id%4 frames, dims (8+doc_id%9, 4+doc_id%5),
# frame f fill color ((doc_id+17f)%256, (7doc_id+29f)%256, (13doc_id+41f)%256);
# constant fill -> channel means == the fill color exactly
ORACLES["media_frame_sample"] = """
        WITH n AS (SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents),
        f AS (SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS fno FROM n)
        SELECT doc_id AS media_id,
               cast(fno as int) AS frame_no,
               cast(nf as int) AS n_frames,
               cast(8 + doc_id % 9 as int) AS width,
               cast(4 + doc_id % 5 as int) AS height,
               round(cast((doc_id + 17*fno) % 256 AS double), 6) AS mean_r,
               round(cast((doc_id*7 + 29*fno) % 256 AS double), 6) AS mean_g,
               round(cast((doc_id*13 + 41*fno) % 256 AS double), 6) AS mean_b
        FROM f WHERE fno % 2 = 0
    """
ORACLES["media_decode"] = """
        WITH m AS (
          SELECT doc_id,
                 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h,
                 doc_id % 256 AS r, (7 * doc_id) % 256 AS g, (13 * doc_id) % 256 AS b,
                 50 + doc_id % 50 AS n, abs(doc_id % 1001 - 500) AS amp
          FROM documents)
        SELECT doc_id AS media_id,
               cast(CASE WHEN doc_id % 2 = 0
                         THEN 9 + length(cast(w as varchar)) + length(cast(h as varchar)) + 3 * w * h
                         ELSE 44 + 2 * n END as bigint) AS n_bytes,
               CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'wav' END AS format,
               cast(CASE WHEN doc_id % 2 = 0 THEN w END as integer) AS width,
               cast(CASE WHEN doc_id % 2 = 0 THEN h END as integer) AS height,
               cast(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END as integer) AS channels,
               cast(CASE WHEN doc_id % 2 = 1 THEN 8000 END as integer) AS sample_rate,
               cast(CASE WHEN doc_id % 2 = 1 THEN n END as integer) AS n_frames,
               round(cast(CASE WHEN doc_id % 2 = 0 THEN r END as double), 6) AS mean_r,
               round(cast(CASE WHEN doc_id % 2 = 0 THEN g END as double), 6) AS mean_g,
               round(cast(CASE WHEN doc_id % 2 = 0 THEN b END as double), 6) AS mean_b,
               round(cast(CASE WHEN doc_id % 2 = 1 THEN amp END as double), 6) AS rms
        FROM m
    """
# post-resize decode: even ids (ppm) become 4x3 constant-fill P6
# (header "P6\\n4 3\\n255\\n" = 11 bytes + 36 pixel bytes); odd ids
# (wav) pass through identical to the media_decode oracle
ORACLES["media_resize"] = """
        WITH m AS (
          SELECT doc_id,
                 doc_id % 256 AS r, (7 * doc_id) % 256 AS g, (13 * doc_id) % 256 AS b,
                 50 + doc_id % 50 AS n, abs(doc_id % 1001 - 500) AS amp
          FROM documents)
        SELECT doc_id AS media_id,
               cast(CASE WHEN doc_id % 2 = 0 THEN 47 ELSE 44 + 2 * n END as bigint) AS n_bytes,
               CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'wav' END AS format,
               cast(CASE WHEN doc_id % 2 = 0 THEN 4 END as integer) AS width,
               cast(CASE WHEN doc_id % 2 = 0 THEN 3 END as integer) AS height,
               cast(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END as integer) AS channels,
               cast(CASE WHEN doc_id % 2 = 1 THEN 8000 END as integer) AS sample_rate,
               cast(CASE WHEN doc_id % 2 = 1 THEN n END as integer) AS n_frames,
               round(cast(CASE WHEN doc_id % 2 = 0 THEN r END as double), 6) AS mean_r,
               round(cast(CASE WHEN doc_id % 2 = 0 THEN g END as double), 6) AS mean_g,
               round(cast(CASE WHEN doc_id % 2 = 0 THEN b END as double), 6) AS mean_b,
               round(cast(CASE WHEN doc_id % 2 = 1 THEN amp END as double), 6) AS rms
        FROM m
    """
ORACLES["media_decode_png"] = """
        WITH m AS (
          SELECT doc_id,
                 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h,
                 (3 * doc_id) % 256 AS r, (5 * doc_id) % 256 AS g, (11 * doc_id) % 256 AS b
          FROM documents)
        SELECT doc_id AS media_id,
               cast(68 + h * (1 + 3 * w) as bigint) AS n_bytes,
               'png' AS format,
               cast(w as integer) AS width,
               cast(h as integer) AS height,
               cast(3 as integer) AS channels,
               round(cast(r as double), 6) AS mean_r,
               round(cast(g as double), 6) AS mean_g,
               round(cast(b as double), 6) AS mean_b
        FROM m
    """
ORACLES["media_decode_jpeg"] = """
        -- replays the ONLY lossy step of the all-ones-qtable constant-fill
        -- encode->decode chain: the JFIF color convert, in the exact
        -- IEEE-double operand order of analytics.jpeg._rgb_to_ycbcr and
        -- decode_jpeg_pixels (floor(x+0.5) rounding both sides)
        WITH m AS (
          SELECT doc_id, doc_id % 3 AS mode,
                 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h,
                 CAST(doc_id % 256 AS DOUBLE) AS r,
                 CAST((doc_id * 7) % 256 AS DOUBLE) AS g,
                 CAST((doc_id * 13) % 256 AS DOUBLE) AS b
          FROM documents),
        yc AS (
          SELECT doc_id, mode, w, h, r,
            least(255, greatest(0, floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5))) AS y,
            least(255, greatest(0, floor(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5))) AS cb,
            least(255, greatest(0, floor(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5))) AS cr
          FROM m)
        SELECT doc_id AS media_id,
               'jpeg' AS format,
               cast(w as integer) AS width,
               cast(h as integer) AS height,
               cast(CASE WHEN mode = 0 THEN 1 ELSE 3 END as integer) AS channels,
               round(CASE WHEN mode = 0 THEN r
                     ELSE least(255, greatest(0, floor(y + 1.402 * (cr - 128) + 0.5))) END, 6) AS mean_r,
               round(CASE WHEN mode = 0 THEN r
                     ELSE least(255, greatest(0, floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5))) END, 6) AS mean_g,
               round(CASE WHEN mode = 0 THEN r
                     ELSE least(255, greatest(0, floor(y + 1.772 * (cb - 128) + 0.5))) END, 6) AS mean_b
        FROM yc
    """
# GIF is lossless: the stripe raster means are exact rational
# arithmetic — n_even = h*ceil(w/2) columns of c1, n_odd = h*floor(w/2)
# of c2; integer sums are exact in double, so mean = sum/n bit-matches
ORACLES["media_decode_gif"] = """
        WITH m AS (
          SELECT doc_id,
                 6 + doc_id % 9 AS w, 4 + doc_id % 5 AS h,
                 doc_id % 256 AS r1, (3 * doc_id) % 256 AS g1, (7 * doc_id) % 256 AS b1,
                 (11 * doc_id) % 256 AS r2, (13 * doc_id) % 256 AS g2, (17 * doc_id) % 256 AS b2
          FROM documents),
        c AS (SELECT *, h * ((w + 1) // 2) AS n0, h * (w // 2) AS n1, w * h AS n FROM m)
        SELECT doc_id AS media_id,
               'gif' AS format,
               cast(w as integer) AS width,
               cast(h as integer) AS height,
               cast(3 as integer) AS channels,
               round((n0 * r1 + n1 * r2) / cast(n as double), 6) AS mean_r,
               round((n0 * g1 + n1 * g2) / cast(n as double), 6) AS mean_g,
               round((n0 * b1 + n1 * b2) / cast(n as double), 6) AS mean_b
        FROM c
    """
