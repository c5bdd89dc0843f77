"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas UDFs.

The decode path is REAL for formats parseable with numpy/stdlib alone —
binary netpbm (PPM/PGM), 24-bit BMP, PCM16 WAV, 8-bit PNG (stdlib
``zlib`` inflate + numpy unfiltering), and sequential-baseline JPEG
(full T.81 Huffman/IDCT decode in ``analytics.jpeg``; see
``analytics.codecs``), and MP3 FRAMING metadata (r13: per-frame header
walk — VBR-safe sample/rate/channel counts — in
``codecs.decode_mp3_meta``); entropy decodes with no stdlib
implementation (MP3→PCM, H.264) raise ``NotImplementedError`` because
their libraries aren't in this container.

Fixture payloads are generated JVM-side from the documents table with
pure built-in expressions (hex arithmetic → ``unhex``) — byte-identical
to the Python encoders in ``codecs`` — so decode correctness is
oracle-checkable end to end: an external SQL engine recomputes every
decoded field from ``doc_id`` arithmetic while Spark actually parses the
bytes.

Design: media payloads ride in their own column so Parquet keeps them in
separate column chunks — metadata-only queries never read the bytes
(column pruning), and ``spark.sql.files.maxPartitionBytes`` keeps task
inputs bounded even when payloads are MBs each.
"""

from __future__ import annotations

import wave
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_cassandra_spark.analytics import codecs

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("resized", T.BooleanType(), False),
    ]
)


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL resize: decode image payloads to a raster
    (``codecs.decode_pixels``), integer nearest-neighbor resample, and
    re-encode as P6 PPM (the normalization target — downstream stages get
    one uncompressed format whatever arrived). Non-image and
    unsupported-codec payloads pass through untouched with
    ``resized = false`` — the honest boundary, not a silent fake.

    Same scale shape as decode: a stateless Arrow-batched ``mapInPandas``
    (one Python crossing per batch, no shuffle), payloads never visit the
    driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(p: bytes | None) -> tuple[bytes | None, bool]:
            if p is None:
                return None, False
            try:
                px = codecs.decode_pixels(bytes(p))
            except (NotImplementedError, ValueError):
                return p, False
            return codecs.encode_ppm_pixels(codecs.resize_nearest(px, width, height)), True

        for chunk in batches:
            done = chunk["payload"].map(one)
            yield pd.DataFrame(
                {
                    "media_id": chunk["media_id"],
                    "media_type": chunk["media_type"],
                    "payload": done.map(lambda t: t[0]),
                    "resized": done.map(lambda t: t[1]),
                }
            )

    return media.select("media_id", "media_type", "payload").mapInPandas(run, RESIZED_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
    ]
)


#: DECODED_SCHEMA + the permissive-mode error column (Spark's own
#: from_json/from_csv corrupt-record convention)
DECODED_PERMISSIVE_SCHEMA = T.StructType(
    list(DECODED_SCHEMA.fields) + [T.StructField("decode_error", T.StringType(), True)]
)


def decode_media(
    media: DataFrame,
    id_col: str = "media_id",
    mode: str = "FAILFAST",
    exact_jpeg: bool = False,
) -> DataFrame:
    """REAL decode of media payloads (netpbm/BMP/WAV/PNG/baseline JPEG)
    via ``mapInPandas``.

    ``mode='FAILFAST'`` (default): a malformed or unsupported payload
    raises from the task — honest failure for curated fixtures.
    ``mode='PERMISSIVE'``: the row survives with null decode fields and
    the exception text in a ``decode_error`` column (the ``from_json``
    corrupt-record convention) — at corpus scale one corrupt payload
    must not kill a multi-thousand-row Arrow batch and with it the task,
    stage, and job; the errors stay queryable for triage
    (``WHERE decode_error IS NOT NULL``). Codec failures are normalized
    to ValueError/NotImplementedError (fuzz-locked), so PERMISSIVE
    catches exactly those and still propagates genuine bugs.

    One Arrow batch in, one out; pure per-row map — no shuffle; payload
    bytes stay on the executors, and a metadata-only downstream select
    prunes the payload column at the Parquet scan.

    ``exact_jpeg=True`` pins the from-scratch T.81 JPEG decoder (the
    gate's oracle anchor); default lets JPEG route through Pillow/libjpeg
    when importable (``codecs.decode_jpeg_pil``)."""
    if mode not in ("FAILFAST", "PERMISSIVE"):
        raise ValueError(f"mode must be FAILFAST or PERMISSIVE, got {mode!r}")
    permissive = mode == "PERMISSIVE"
    schema = DECODED_PERMISSIVE_SCHEMA if permissive else DECODED_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                raw = bytes(payload or b"")
                if permissive:
                    try:
                        d = codecs.decode_bytes(raw, exact_jpeg=exact_jpeg)
                        d["decode_error"] = None
                    except (ValueError, NotImplementedError) as e:
                        d = {k: None for k in codecs.DECODE_FIELDS}
                        d["decode_error"] = f"{type(e).__name__}: {e}"
                else:
                    d = codecs.decode_bytes(raw, exact_jpeg=exact_jpeg)
                d["media_id"] = mid
                d["n_bytes"] = len(raw)
                recs.append(d)
            out = pd.DataFrame(recs, columns=[f.name for f in schema.fields])
            # None-able int fields arrive as float64+NaN; Arrow's unsafe
            # cast to int32 would mangle them — use nullable Int32
            for c in ("width", "height", "channels", "sample_rate", "n_frames"):
                out[c] = out[c].astype("Int32")
            yield out

    return media.select(F.col(id_col).alias("media_id"), "payload").mapInPandas(run, schema)


def _le_hex(col: Column, nbytes: int) -> Column:
    """Little-endian fixed-width hex of a non-negative integral column —
    the JVM-side building block for binary container formats."""
    parts = [
        F.lpad(F.hex(F.shiftright(col.cast("long"), 8 * i).bitwiseAND(F.lit(255))), 2, "0")
        for i in range(nbytes)
    ]
    return F.concat(*parts)


def synthetic_ppm_payload(doc_id: Column) -> Column:
    """A real P6 PPM built entirely from JVM expressions: constant fill
    color and dimensions derived from ``doc_id`` (byte-identical to
    ``codecs.encode_ppm``). Whole-stage codegen; no Python on this path."""
    w = F.lit(8) + F.pmod(doc_id, F.lit(9))
    h = F.lit(4) + F.pmod(doc_id, F.lit(5))
    r, g, b = (F.pmod(doc_id * k, F.lit(256)) for k in (1, 7, 13))
    return _ppm_frame_hex_parts(w, h, r, g, b)


def _wav_container_hex(n: Column, rate: Column, samples_hex: Column) -> Column:
    """RIFF/WAVE PCM16-mono container hex around an already-built sample
    stream — ONE source of truth for the 44-byte header (the stdlib
    ``wave`` writer's canonical layout) shared by every WAV fixture."""
    return F.concat(
        F.lit("52494646"),  # 'RIFF'
        _le_hex(F.lit(36) + n * 2, 4),
        F.lit("57415645666d7420"),  # 'WAVE' 'fmt '
        _le_hex(F.lit(16), 4),
        _le_hex(F.lit(1), 2),  # PCM
        _le_hex(F.lit(1), 2),  # mono
        _le_hex(rate, 4),
        _le_hex(rate * 2, 4),  # byte rate
        _le_hex(F.lit(2), 2),  # block align
        _le_hex(F.lit(16), 2),  # bits/sample
        F.lit("64617461"),  # 'data'
        _le_hex(n * 2, 4),
        samples_hex,
    )


def synthetic_wav_payload(doc_id: Column) -> Column:
    """A real RIFF/WAVE PCM16 mono file from JVM expressions: constant
    amplitude ``doc_id % 1001 - 500`` over ``50 + doc_id % 50`` frames at
    8 kHz — byte-identical to ``codecs.encode_wav_constant``."""
    n = F.lit(50) + F.pmod(doc_id, F.lit(50))
    amp = F.pmod(doc_id, F.lit(1001)) - F.lit(500)
    sample_hex = _le_hex(F.pmod(amp, F.lit(65536)), 2)
    return F.unhex(_wav_container_hex(n, F.lit(8000), F.repeat(sample_hex, n)))


def _be_hex(col: Column, nbytes: int) -> Column:
    """Big-endian fixed-width hex of a non-negative integral column."""
    return F.lpad(F.hex(col.cast("long")), 2 * nbytes, "0")


def synthetic_png_payload(doc_id: Column) -> Column:
    """A REAL, spec-valid PNG built entirely from JVM expressions — no
    Python, no compression library on the write path. Three tricks make
    this possible (mirrored byte-for-byte by ``codecs.encode_png_stored``):

    * the IDAT deflate stream uses a single *stored* block (BTYPE=00) —
      a 5-byte header plus the raw scanlines, no Huffman coding;
    * Adler32 over constant-fill scanlines has a closed form
      (s1 = 1+Σb, s2 = n+Σ(n-i+1)·bᵢ — arithmetic over the repeating
      row pattern), so the zlib trailer is pure modular arithmetic;
    * chunk CRCs come from Spark's builtin ``crc32`` (same ISO-3309
      polynomial PNG specifies).

    Decoded by the honest ``codecs.decode_png`` (chunk/CRC walk, zlib
    inflate, unfilter) — so the gate genuinely round-trips a compressed
    container format through JVM generation and Python parsing."""
    w = F.lit(8) + F.pmod(doc_id, F.lit(9))
    h = F.lit(4) + F.pmod(doc_id, F.lit(5))
    r, g, b = (F.pmod(doc_id * k, F.lit(256)) for k in (3, 5, 11))
    pixel_hex = F.concat(*[F.lpad(F.hex(c), 2, "0") for c in (r, g, b)])
    raw_hex = F.repeat(F.concat(F.lit("00"), F.repeat(pixel_hex, w)), h)
    row_len = F.lit(1) + w * 3  # filter byte + RGB samples
    n = h * row_len
    deflate_hex = F.concat(F.lit("01"), _le_hex(n, 2), _le_hex(F.lit(65535) - n, 2), raw_hex)
    # Adler32 closed form over h identical rows of [0, (r,g,b)*w]
    s_row = w * (r + g + b)
    w_row = (
        r * (F.lit(2) * w + F.lit(3) * F.shiftright(w * (w - 1), 1))
        + g * (F.lit(3) * w + F.lit(3) * F.shiftright(w * (w - 1), 1))
        + b * (F.lit(4) * w + F.lit(3) * F.shiftright(w * (w - 1), 1))
    )
    t_sum = s_row * (h * (n + 1) - row_len * F.shiftright(h * (h - 1), 1)) - h * w_row
    s1 = F.pmod(F.lit(1) + h * s_row, F.lit(65521))
    s2 = F.pmod(n + t_sum, F.lit(65521))
    zlib_hex = F.concat(F.lit("7801"), deflate_hex, _be_hex(s2 * 65536 + s1, 4))
    ihdr_hex = F.concat(_be_hex(w, 4), _be_hex(h, 4), F.lit("0802000000"))
    hex_all = F.concat(
        F.lit("89504e470d0a1a0a"),  # signature
        F.lit("0000000d49484452"),  # IHDR length + type
        ihdr_hex,
        _be_hex(F.crc32(F.unhex(F.concat(F.lit("49484452"), ihdr_hex))), 4),
        _be_hex(n + 11, 4),  # IDAT length: 2 zlib hdr + 5 stored hdr + n + 4 adler
        F.lit("49444154"),
        zlib_hex,
        _be_hex(F.crc32(F.unhex(F.concat(F.lit("49444154"), zlib_hex))), 4),
        F.lit("0000000049454e44ae426082"),  # IEND
    )
    return F.unhex(hex_all)


def png_media_from_documents(docs: DataFrame) -> DataFrame:
    """Media table whose every payload is a JVM-generated real PNG."""
    doc_id = F.col("doc_id")
    return docs.select(
        doc_id.alias("media_id"),
        F.lit("image").alias("media_type"),
        synthetic_png_payload(doc_id).alias("payload"),
    )


def jpeg_media_from_documents(docs: DataFrame) -> DataFrame:
    """Media table whose every payload is a real sequential-baseline JPEG
    (``analytics.jpeg.encode_jpeg_baseline``, all-ones quantization
    tables): ``doc_id % 3`` picks grayscale / RGB 4:4:4 / RGB 4:2:0, the
    dims (8..16 x 4..8, deliberately off the 8/16 MCU grid to exercise
    edge padding) and the constant fill color derive from ``doc_id``
    arithmetic. Unlike the PPM/PNG fixtures the entropy coding can't be
    a JVM expression — encoding runs in Arrow-batched ``mapInPandas`` on
    the executors (per-row map, no shuffle, nothing through the driver).

    With all-ones qtables a constant-fill image is bit-exact through
    encode -> decode except for the JFIF color convert, whose exact
    IEEE-double chain the ``media_decode_jpeg`` oracle replays in SQL
    (see ``analytics.jpeg`` module docstring)."""
    import numpy as np

    from apache_cassandra_spark.analytics import jpeg

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w = 8 + doc_id % 9
                h = 4 + doc_id % 5
                r, g, b = doc_id % 256, (doc_id * 7) % 256, (doc_id * 13) % 256
                mode = doc_id % 3
                if mode == 0:
                    px = np.full((h, w), r, dtype=np.uint8)
                    payload = jpeg.encode_jpeg_baseline(px)
                else:
                    px = np.zeros((h, w, 3), dtype=np.uint8)
                    px[:, :, 0], px[:, :, 1], px[:, :, 2] = r, g, b
                    payload = jpeg.encode_jpeg_baseline(
                        px, subsampling="444" if mode == 1 else "420"
                    )
                recs.append({"media_id": doc_id, "media_type": "image", "payload": payload})
            yield pd.DataFrame(recs, columns=["media_id", "media_type", "payload"])

    return docs.select("doc_id").mapInPandas(run, out_schema)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Media table with REAL payloads: even doc_ids carry a PPM image,
    odd ones a WAV clip — all generated JVM-side (see the two payload
    builders)."""
    doc_id = F.col("doc_id")
    return docs.select(
        doc_id.alias("media_id"),
        F.when(doc_id % 2 == 0, F.lit("image")).otherwise(F.lit("audio")).alias("media_type"),
        F.when(doc_id % 2 == 0, synthetic_ppm_payload(doc_id))
        .otherwise(synthetic_wav_payload(doc_id))
        .alias("payload"),
    )


def synthetic_wav_sawtooth_payload(doc_id: Column) -> Column:
    """A RIFF/WAVE PCM16 mono file whose samples actually VARY — sample
    ``i`` is ``((doc_id*31 + i*411) % 2048) - 1024`` over ``50 + doc_id %
    50`` frames at 8 kHz. The constant-amplitude fixture makes RMS
    degenerate (RMS == |amp|); this sawtooth exercises the whole signal
    path — RMS, peak, zero crossings — while every byte is still
    closed-form ``doc_id`` arithmetic an external SQL engine can replay.
    JVM-only: per-sample hex via ``transform`` over a ``sequence``."""
    n = F.lit(50) + F.pmod(doc_id, F.lit(50))
    sample_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: _le_hex(
                F.pmod(F.pmod(doc_id * 31 + i * 411, F.lit(2048)) - F.lit(1024), F.lit(65536)), 2
            ),
        ),
        "",
    )
    return F.unhex(_wav_container_hex(n, F.lit(8000), sample_hex))


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("duration_ms", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.IntegerType(), True),
        T.StructField("n_zero_cross", T.IntegerType(), True),
        T.StructField("mean_amp", T.DoubleType(), True),
    ]
)


def audio_features(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Signal-level audio features from REAL PCM16 decode (stdlib ``wave``
    + numpy, Arrow-batched ``mapInPandas``): duration, RMS, peak,
    zero-crossing count (sign flips across consecutive samples, zero
    counted non-negative), mean amplitude. Doubles round to 6 decimals —
    the sums are integer-exact in IEEE doubles, so an external engine
    replaying the sample arithmetic reproduces every field bit-for-bit.

    Scale shape: stateless per-row map, no shuffle; payloads never visit
    the driver."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                try:
                    # wave.open raises bare EOFError on empty/truncated
                    # input, wave.Error on a non-RIFF header — a NULL or
                    # malformed payload must surface as a null-feature row
                    # (visible, joinable), not abort the whole job
                    rate, s = codecs.wav_samples(bytes(payload or b""))
                except (EOFError, wave.Error, NotImplementedError, ValueError):
                    recs.append({"media_id": mid})
                    continue
                sf = s.astype(np.float64)
                nonneg = sf >= 0
                recs.append(
                    {
                        "media_id": mid,
                        "sample_rate": rate,
                        "n_frames": len(s),
                        "duration_ms": round(len(s) * 1000.0 / rate, 6) if rate else None,
                        "rms": round(float(np.sqrt((sf**2).mean())), 6) if len(s) else None,
                        "peak": int(np.abs(sf).max()) if len(s) else None,
                        "n_zero_cross": int((nonneg[1:] != nonneg[:-1]).sum()),
                        "mean_amp": round(float(sf.mean()), 6) if len(s) else None,
                    }
                )
            out = pd.DataFrame(recs, columns=[f.name for f in AUDIO_SCHEMA.fields])
            for c in ("sample_rate", "n_frames", "peak", "n_zero_cross"):
                out[c] = out[c].astype("Int32")
            yield out

    return media.select(F.col(id_col).alias("media_id"), "payload").mapInPandas(run, AUDIO_SCHEMA)


def _ppm_frame_hex_parts(w: Column, h: Column, r: Column, g: Column, b: Column) -> Column:
    """One P6 frame as binary, constant fill (header UTF-8 + raster)."""
    header = F.concat(
        F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"), F.lit("\n255\n")
    )
    pixel_hex = F.concat(*[F.lpad(F.hex(c), 2, "0") for c in (r, g, b)])
    return F.concat(F.encode(header, "UTF-8"), F.unhex(F.repeat(pixel_hex, w * h)))


#: frame-count bound for the synthetic video container (2..5 frames)
_VIDEO_MAX_FRAMES = 5


def synthetic_video_payload(doc_id: Column) -> Column:
    """A "video" container that is genuinely parseable: ``2 + doc_id % 4``
    P6 frames laid head-to-tail, constant per-video dimensions, per-frame
    fill color ``((doc_id + 17f) % 256, (7·doc_id + 29f) % 256,
    (13·doc_id + 41f) % 256)`` — every byte closed-form arithmetic. The
    real codec boundary stays honest (an MP4/H.264 demux needs ffmpeg,
    not in this container); what this fixture exercises is the actual
    distributed shape of video work: variable-length binary payloads,
    per-frame fan-out, pixel-level reads."""
    w = F.lit(8) + F.pmod(doc_id, F.lit(9))
    h = F.lit(4) + F.pmod(doc_id, F.lit(5))
    n = F.lit(2) + F.pmod(doc_id, F.lit(4))
    frames = [
        F.when(
            F.lit(f) < n,
            _ppm_frame_hex_parts(
                w,
                h,
                F.pmod(doc_id + 17 * f, F.lit(256)),
                F.pmod(doc_id * 7 + 29 * f, F.lit(256)),
                F.pmod(doc_id * 13 + 41 * f, F.lit(256)),
            ),
        ).otherwise(F.unhex(F.lit("")))
        for f in range(_VIDEO_MAX_FRAMES)
    ]
    return F.concat(*frames)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
    ]
)


def sample_frames(media: DataFrame, every_k: int = 2, id_col: str = "media_id") -> DataFrame:
    """REAL frame sampling over the concatenated-P6 video container: walk
    the stream (``codecs.split_ppm_stream``), keep every ``k``-th frame,
    decode each kept frame's raster to channel means. One row per kept
    frame — ``(media_id, frame_no, n_frames, width, height, mean_r/g/b)``.

    Scale shape: stateless Arrow-batched ``mapInPandas``; the per-frame
    fan-out happens executor-side (no explode-then-shuffle of payload
    bytes, no driver contact). Means round to 6 decimals for
    cross-engine replay."""
    if every_k < 1:
        raise ValueError(f"every_k must be >= 1, got {every_k}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                frames = codecs.split_ppm_stream(bytes(payload or b""))
                for fno in range(0, len(frames), every_k):
                    d = codecs.decode_ppm(frames[fno])
                    recs.append(
                        {
                            "media_id": mid,
                            "frame_no": fno,
                            "n_frames": len(frames),
                            "width": d["width"],
                            "height": d["height"],
                            "mean_r": round(d["mean_r"], 6),
                            "mean_g": round(d["mean_g"], 6),
                            "mean_b": round(d["mean_b"], 6),
                        }
                    )
            out = pd.DataFrame(recs, columns=[f.name for f in FRAME_SCHEMA.fields])
            for c in ("frame_no", "n_frames", "width", "height"):
                out[c] = out[c].astype("Int32")
            yield out

    return media.select(F.col(id_col).alias("media_id"), "payload").mapInPandas(run, FRAME_SCHEMA)


def gif_media_from_documents(docs: DataFrame) -> DataFrame:
    """Media table whose every payload is a real LZW-compressed GIF87a:
    doc_id-parametric column stripes of two colors (stripes exercise the
    LZW run/table machinery; a constant fill would compress to almost
    nothing). Like the JPEG fixtures, entropy coding can't be a JVM
    expression — encoding runs in Arrow-batched ``mapInPandas`` on the
    executors. GIF is lossless, so the ``media_decode_gif`` oracle
    recomputes the exact means from the stripe arithmetic."""
    import numpy as np

    from apache_cassandra_spark.analytics import codecs

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w = 6 + doc_id % 9
                h = 4 + doc_id % 5
                c1 = (doc_id % 256, (3 * doc_id) % 256, (7 * doc_id) % 256)
                c2 = ((11 * doc_id) % 256, (13 * doc_id) % 256, (17 * doc_id) % 256)
                px = np.zeros((h, w, 3), dtype=np.uint8)
                px[:, 0::2] = c1
                px[:, 1::2] = c2
                recs.append(
                    {"media_id": doc_id, "media_type": "image", "payload": codecs.encode_gif(px)}
                )
            yield pd.DataFrame(recs, columns=["media_id", "media_type", "payload"])

    return docs.select("doc_id").mapInPandas(run, out_schema)
