"""Multimodal column plumbing: real codecs (analytics.codecs), the
Arrow-batched decode/resize/frame-sampling/audio-feature operators, and
the typed boundaries for formats without a stdlib decoder."""

import numpy as np
import pytest

from apache_cassandra_spark.analytics import codecs
from apache_cassandra_spark.analytics import multimodal as mm


# --- real codecs (analytics.codecs) ------------------------------------------


def test_ppm_roundtrip_and_comment_header():
    p = codecs.encode_ppm(6, 2, (1, 2, 3))
    d = codecs.decode_ppm(p)
    assert (d["width"], d["height"], d["channels"]) == (6, 2, 3)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == (1.0, 2.0, 3.0)
    # comment + arbitrary whitespace in header (netpbm spec)
    commented = b"P6\n# a comment\n 6\t2\n255\n" + bytes((1, 2, 3)) * 12
    assert codecs.decode_ppm(commented)["width"] == 6


def test_pgm_grayscale():
    p = b"P5\n4 2\n255\n" + bytes([9] * 8)
    d = codecs.decode_ppm(p)
    assert d["channels"] == 1 and d["mean_r"] == 9.0 and d["mean_g"] == 9.0


def test_bmp_24bpp_bottom_up_with_padding():
    import struct

    # 3x2 BMP: width 3 -> stride 12 (3 bytes padding per row), bottom-up
    w, h = 3, 2
    stride = (w * 3 + 3) & ~3
    # rows in file order: bottom row first; pixels BGR
    bottom = bytes([255, 0, 0] * w) + b"\0" * (stride - w * 3)  # blue row
    top = bytes([0, 0, 255] * w) + b"\0" * (stride - w * 3)  # red row
    data = bottom + top
    header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    header += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    d = codecs.decode_bmp(header + data)
    assert (d["width"], d["height"]) == (3, 2)
    # mean over a half-red half-blue image
    assert d["mean_r"] == 127.5 and d["mean_b"] == 127.5 and d["mean_g"] == 0.0


def test_wav_roundtrip():
    d = codecs.decode_wav(codecs.encode_wav_constant(80, 250))
    assert (d["sample_rate"], d["n_frames"], d["channels"], d["rms"]) == (8000, 80, 1, 250.0)


def test_decode_bytes_dispatch_and_honest_failures():
    assert codecs.decode_bytes(codecs.encode_ppm(2, 2, (0, 0, 0)))["format"] == "ppm"
    assert codecs.decode_bytes(codecs.encode_wav_constant(10, 5))["format"] == "wav"
    assert codecs.decode_bytes(codecs.encode_png_stored(3, 2, (1, 2, 3)))["format"] == "png"
    with pytest.raises(NotImplementedError):
        codecs.decode_bytes(b"garbage")
    # PNG and JPEG are real decoders now: malformed input is a parse
    # error, not a stub
    with pytest.raises(ValueError):
        codecs.decode_bytes(b"\x89PNG\r\n\x1a\nrest")
    with pytest.raises(ValueError):
        codecs.decode_bytes(b"\xff\xd8\xffjpeg")


def test_fuzz_all_codecs_raise_typed_errors():
    """Truncations and byte flips across every codec must raise only
    ValueError/NotImplementedError — a corpus-scale decode task needs one
    classifiable failure type, not the stdlib's wave.Error/EOFError/
    struct.error/zlib.error zoo or raw Index/Key errors. (Exhaustive
    offline fuzz was clean; this is the bounded regression slice.)"""
    import random
    import struct

    w, h = 4, 3
    stride = (w * 3 + 3) & ~3
    bmp = (
        b"BM"
        + struct.pack("<IHHI", 14 + 40 + stride * h, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0)
        + bytes(range(stride * h))
    )
    fixtures = [
        bmp,
        codecs.encode_ppm(5, 4, (1, 2, 3)),
        codecs.encode_png(
            np.arange(60, dtype=np.uint8).reshape(4, 5, 3), color_type=2, filter_type=2
        ),
        codecs.encode_wav_constant(30, 100),
    ]
    rng = random.Random(13)
    for pay in fixtures:
        for cut in range(0, len(pay), 3):
            try:
                codecs.decode_bytes(pay[:cut])
            except (ValueError, NotImplementedError):
                pass
        for _ in range(400):
            b = bytearray(pay)
            b[rng.randrange(len(pay))] = rng.randrange(256)
            try:
                codecs.decode_bytes(bytes(b))
            except (ValueError, NotImplementedError):
                pass


def test_decode_media_permissive_mode(spark):
    """PERMISSIVE decode: corrupt payloads become rows with null fields
    and the error text in decode_error — the batch and task survive.
    FAILFAST (default) still raises."""
    from pyspark.errors import PythonException

    rows = [
        (1, "image", bytearray(codecs.encode_ppm(2, 2, (9, 9, 9)))),
        (2, "image", bytearray(b"\xff\xd8\xffgarbage")),  # malformed jpeg
        (3, "image", bytearray(b"not media at all")),  # unknown format
    ]
    media = spark.createDataFrame(rows, "media_id long, media_type string, payload binary")
    out = {r["media_id"]: r for r in mm.decode_media(media, mode="PERMISSIVE").collect()}
    assert out[1]["format"] == "ppm" and out[1]["decode_error"] is None
    assert out[2]["format"] is None and "ValueError" in out[2]["decode_error"]
    assert out[3]["format"] is None and "NotImplementedError" in out[3]["decode_error"]
    assert out[2]["n_bytes"] == len(b"\xff\xd8\xffgarbage")  # row still carries metadata
    with pytest.raises(PythonException):
        mm.decode_media(media).collect()  # FAILFAST default
    with pytest.raises(ValueError, match="FAILFAST or PERMISSIVE"):
        mm.decode_media(media, mode="lenient")


def test_bmp_top_down_height_is_signed():
    """BITMAPINFOHEADER height is a signed LONG: negative = top-down row
    order (no flip). Regression for the unsigned parse + np.int32 cast."""
    import struct

    w, h = 3, 2
    stride = (w * 3 + 3) & ~3
    rows = bytes(range(stride * h))
    mk = lambda hh: (  # noqa: E731
        b"BM"
        + struct.pack("<IHHI", 14 + 40 + stride * h, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, hh, 1, 24, 0, stride * h, 2835, 2835, 0, 0)
        + rows
    )
    up, down = codecs.decode_pixels(mk(h)), codecs.decode_pixels(mk(-h))
    assert up.shape == down.shape == (2, 3, 3)
    assert np.array_equal(up, down[::-1])


def test_decode_bytes_jpeg_dispatch():
    from apache_cassandra_spark.analytics import jpeg

    px = np.zeros((9, 10, 3), dtype=np.uint8)
    px[:, :, 0], px[:, :, 1], px[:, :, 2] = 10, 20, 30
    d = codecs.decode_bytes(jpeg.encode_jpeg_baseline(px))
    assert (d["format"], d["width"], d["height"], d["channels"]) == ("jpeg", 10, 9, 3)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == (10.0, 20.0, 30.0)


def test_png_roundtrip_all_color_types_and_filters():
    rng = np.random.RandomState(7)
    for ct, ch in [(0, 1), (2, 3), (4, 2), (6, 4)]:
        for ft in range(5):
            px = rng.randint(0, 256, size=(6, 11, ch), dtype=np.uint8)
            out = codecs.decode_png(codecs.encode_png(px, color_type=ct, filter_type=ft))
            assert (out["width"], out["height"]) == (11, 6)
            rgb = px[:, :, :3] if ch >= 3 else np.repeat(px[:, :, :1], 3, axis=2)
            exp = rgb.astype(np.float64).mean(axis=(0, 1))
            got = np.array([out["mean_r"], out["mean_g"], out["mean_b"]])
            assert np.allclose(exp, got), (ct, ft)


def test_png_palette_expansion():
    rng = np.random.RandomState(11)
    pal = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, size=(4, 7, 1), dtype=np.uint8)
    out = codecs.decode_png(codecs.encode_png(idx, color_type=3, filter_type=2, palette=pal))
    exp = pal[idx[:, :, 0]].astype(np.float64).mean(axis=(0, 1))
    assert np.allclose(exp, [out["mean_r"], out["mean_g"], out["mean_b"]])
    assert out["channels"] == 3


def test_png_rejects_corruption_and_unsupported():
    good = codecs.encode_png_stored(4, 3, (9, 8, 7))
    # flip a raster byte inside IDAT -> CRC mismatch must be caught
    bad = bytearray(good)
    bad[48] ^= 0xFF
    with pytest.raises(ValueError):
        codecs.decode_png(bytes(bad))
    with pytest.raises(ValueError):
        codecs.decode_png(good[:20])
    # 16-bit depth and Adam7 are honestly unsupported
    import struct as _s
    import zlib as _z

    def chunk(t, d):
        return _s.pack(">I", len(d)) + t + d + _s.pack(">I", _z.crc32(t + d) & 0xFFFFFFFF)

    for depth, interlace in ((16, 0), (8, 1)):
        ihdr = _s.pack(">IIBBBBB", 2, 2, depth, 2, 0, 0, interlace)
        p = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", _z.compress(b"\x00" * 26)) + chunk(b"IEND", b"")
        with pytest.raises(NotImplementedError):
            codecs.decode_png(p)


def test_png_jvm_payloads_byte_identical(spark):
    docs = spark.createDataFrame([(i,) for i in range(25)], "doc_id long")
    rows = {r["media_id"]: bytes(r["payload"]) for r in mm.png_media_from_documents(docs).collect()}
    for i in range(25):
        exp = codecs.encode_png_stored(8 + i % 9, 4 + i % 5, (3 * i % 256, 5 * i % 256, 11 * i % 256))
        assert rows[i] == exp
        d = codecs.decode_png(rows[i])
        assert (d["mean_r"], d["mean_g"], d["mean_b"]) == (3 * i % 256, 5 * i % 256, 11 * i % 256)


def test_jvm_payloads_byte_identical_to_python_encoders(spark):
    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    rows = {r["media_id"]: bytes(r["payload"]) for r in mm.media_from_documents(docs).collect()}
    for i in range(30):
        if i % 2 == 0:
            exp = codecs.encode_ppm(8 + i % 9, 4 + i % 5, (i % 256, 7 * i % 256, 13 * i % 256))
        else:
            exp = codecs.encode_wav_constant(50 + i % 50, i % 1001 - 500)
        assert rows[i] == exp


def test_decode_media_distributed(spark):
    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    out = {r["media_id"]: r for r in mm.decode_media(mm.media_from_documents(docs)).collect()}
    assert out[2]["format"] == "ppm" and out[2]["width"] == 10 and out[2]["mean_b"] == 26.0
    assert out[3]["format"] == "wav" and out[3]["rms"] == 497.0 and out[3]["width"] is None


# --- property-based codec fuzz ----------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 32),
    h=st.integers(1, 16),
    rgb=st.tuples(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)),
)
def test_ppm_roundtrip_fuzz(w, h, rgb):
    d = codecs.decode_ppm(codecs.encode_ppm(w, h, rgb))
    assert (d["width"], d["height"]) == (w, h)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == tuple(float(c) for c in rgb)


@settings(max_examples=60, deadline=None)
@given(n=st.integers(1, 400), a=st.integers(-32768, 32767))
def test_wav_roundtrip_fuzz(n, a):
    d = codecs.decode_wav(codecs.encode_wav_constant(n, a))
    assert d["n_frames"] == n and d["rms"] == float(abs(a))


def test_ppm_variable_pixels_mean():
    # non-constant raster: means computed independently in the test
    pixels = bytes(range(12))  # 2x2 RGB: (0,1,2)(3,4,5)(6,7,8)(9,10,11)
    d = codecs.decode_ppm(b"P6\n2 2\n255\n" + pixels)
    assert d["mean_r"] == (0 + 3 + 6 + 9) / 4
    assert d["mean_g"] == (1 + 4 + 7 + 10) / 4
    assert d["mean_b"] == (2 + 5 + 8 + 11) / 4


def test_decode_pixels_roundtrip_formats():
    # gradient raster so a wrong resample/row-order bug can't hide
    px = np.arange(6 * 4 * 3, dtype=np.uint8).reshape(6, 4, 3)
    assert np.array_equal(codecs.decode_pixels(codecs.encode_ppm_pixels(px)), px)
    assert np.array_equal(
        codecs.decode_pixels(codecs.encode_png(px, color_type=2)), px
    )


def test_resize_nearest_exact_mapping():
    px = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    out = codecs.resize_nearest(px, 3, 5)
    rows = (np.arange(5) * 8) // 5
    cols = (np.arange(3) * 8) // 3
    assert out.shape == (5, 3, 3)
    assert np.array_equal(out, px[rows][:, cols])
    # upscale repeats source pixels, never interpolates
    up = codecs.resize_nearest(px[:2, :2], 4, 4)
    assert set(np.unique(up)) <= set(np.unique(px[:2, :2]))


def test_resize_media_real_and_passthrough(spark):
    px = np.arange(6 * 4 * 3, dtype=np.uint8).reshape(6, 4, 3)
    rows = [
        (1, "image", bytearray(codecs.encode_ppm_pixels(px))),
        (2, "image", bytearray(codecs.encode_png(px, color_type=2))),
        (3, "audio", bytearray(b"RIFF....WAVEjunk")),  # sniffs wav, codec fails -> passthrough
        (4, "image", None),
    ]
    df = spark.createDataFrame(rows, "media_id long, media_type string, payload binary")
    got = {r["media_id"]: r for r in mm.resize_media(df, width=2, height=3).collect()}
    expect = codecs.resize_nearest(px, 2, 3)
    for mid in (1, 2):  # both image formats decode, resample identically, re-encode P6
        assert got[mid]["resized"] is True
        assert np.array_equal(codecs.decode_pixels(bytes(got[mid]["payload"])), expect)
    assert got[3]["resized"] is False and bytes(got[3]["payload"]) == b"RIFF....WAVEjunk"
    assert got[4]["resized"] is False and got[4]["payload"] is None


def test_split_ppm_stream_and_errors():
    f1 = codecs.encode_ppm(2, 2, (1, 2, 3))
    f2 = codecs.encode_ppm(3, 1, (9, 8, 7))
    assert codecs.split_ppm_stream(f1 + f2) == [f1, f2]
    assert codecs.split_ppm_stream(b"") == []
    with pytest.raises(ValueError, match="magic"):
        codecs.split_ppm_stream(f1 + b"XX")
    with pytest.raises(ValueError, match="truncated"):
        codecs.split_ppm_stream(f1[:-1])


def test_audio_features_measures_the_signal(spark):
    # hand-built signal with known stats: [3, -4, 3, -4] at 1 kHz
    wav = codecs.encode_wav_pcm16([3, -4, 3, -4], rate=1000)
    df = spark.createDataFrame([(1, bytearray(wav))], "media_id long, payload binary")
    r = mm.audio_features(df).collect()[0]
    assert r["sample_rate"] == 1000 and r["n_frames"] == 4
    assert r["duration_ms"] == 4.0
    assert r["rms"] == round((3**2 + 4**2) ** 0.5 / 2**0.5, 6)  # sqrt(25/2)
    assert r["peak"] == 4 and r["n_zero_cross"] == 3
    assert r["mean_amp"] == -0.5


def test_sample_frames_every_k(spark):
    frames = [codecs.encode_ppm(2, 2, (f, f, f)) for f in range(5)]
    df = spark.createDataFrame(
        [(7, bytearray(b"".join(frames)))], "media_id long, payload binary"
    )
    got = mm.sample_frames(df, every_k=3).orderBy("frame_no").collect()
    assert [(r["frame_no"], r["n_frames"], r["mean_r"]) for r in got] == [(0, 5, 0.0), (3, 5, 3.0)]
    with pytest.raises(ValueError, match="every_k"):
        mm.sample_frames(df, every_k=0)


def test_audio_features_null_and_malformed_payloads(spark):
    """A NULL/empty/non-RIFF payload must yield a null-feature row
    (visible, joinable), not abort the job — wave.open raises bare
    EOFError on empty input."""
    wav = codecs.encode_wav_pcm16([3, -4], rate=1000)
    rows = [(1, bytearray(wav)), (2, None), (3, bytearray(b"")), (4, bytearray(b"junkjunkjunk"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in mm.audio_features(df).collect()}
    assert out[1]["rms"] == 3.535534 and out[1]["n_frames"] == 2
    for mid in (2, 3, 4):
        assert out[mid]["sample_rate"] is None and out[mid]["rms"] is None


# every codec must honor the PERMISSIVE exception contract: corrupt bytes
# raise ValueError/NotImplementedError ONLY — any other exception type
# (struct.error, IndexError, numpy errors) would escape decode_media's
# permissive handler and kill the whole Arrow batch (the bug class the
# truncated-DRI fix closed)


@settings(max_examples=120, deadline=None)
@given(payload=st.binary(min_size=0, max_size=64))
def test_random_bytes_never_escape_error_contract(payload):
    try:
        codecs.decode_bytes(payload)
    except (ValueError, NotImplementedError):
        pass


def _tiny_bmp() -> bytes:
    """Minimal 24-bit BMP built by hand (2x2, bottom-up, padded rows)."""
    import struct

    rows = b"\x01\x02\x03\x04\x05\x06\x00\x00" * 2  # 2 px * 3B + 2B pad
    header = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(rows), 0, 0, 0, 0)
    return header + info + rows


@settings(max_examples=120, deadline=None)
@given(data=st.data(), fmt=st.sampled_from(["ppm", "bmp", "wav", "png", "jpeg", "gif", "mp3"]))
def test_truncated_valid_headers_never_escape_error_contract(data, fmt):
    """Real encoder output chopped/bit-flipped at a random point: the
    decoder may succeed (flip past the parsed region) or raise the
    contract errors, never anything else."""
    from apache_cassandra_spark.analytics import jpeg as jpeg_codec

    import numpy as np

    px = np.full((4, 6, 3), (90, 60, 30), dtype=np.uint8)
    full = {
        "ppm": lambda: codecs.encode_ppm(6, 4, (1, 2, 3)),
        "bmp": lambda: _tiny_bmp(),
        "wav": lambda: codecs.encode_wav_constant(16, 100),
        "png": lambda: codecs.encode_png_stored(6, 4, (1, 2, 3)),
        "jpeg": lambda: jpeg_codec.encode_jpeg_baseline(px),
        "gif": lambda: codecs.encode_gif(px),
        "mp3": lambda: codecs.encode_mp3_frames(4, id3v1=True),
    }[fmt]()
    cut = data.draw(st.integers(0, len(full)))
    payload = bytearray(full[:cut] if cut < len(full) else full)
    if payload and data.draw(st.booleans()):
        i = data.draw(st.integers(0, len(payload) - 1))
        payload[i] ^= 1 << data.draw(st.integers(0, 7))
    try:
        codecs.decode_bytes(bytes(payload))
    except (ValueError, NotImplementedError):
        pass


# --- MP3 framing walk -------------------------------------------------------


def test_mp3_meta_framing_walk_and_sniff():
    """r12 verdict item 8: MPEG-1 Layer III frame-header walk — sample
    counts, rate, channel mode; ID3v2 preamble skipped via syncsafe
    size; ID3v1 trailer ends the walk; sniff sees both entry forms."""
    raw = codecs.encode_mp3_frames(10, rate=44100, bitrate_kbps=128)
    assert codecs.sniff(raw) == "mp3"
    d = codecs.decode_bytes(raw)
    assert (d["format"], d["sample_rate"], d["channels"]) == ("mp3", 44100, 2)
    assert d["n_frames"] == 10 * 1152
    mono = codecs.decode_bytes(codecs.encode_mp3_frames(3, rate=32000, bitrate_kbps=64, mono=True))
    assert (mono["channels"], mono["sample_rate"], mono["n_frames"]) == (1, 32000, 3 * 1152)
    tagged = codecs.encode_mp3_frames(5, id3v2=b"\x00" * 37, id3v1=True)
    assert codecs.sniff(tagged) == "mp3"
    assert codecs.decode_bytes(tagged)["n_frames"] == 5 * 1152


def test_mp3_vbr_frames_and_padding_bit():
    """Per-frame headers are re-read (VBR): mixed bitrates concatenate
    cleanly because each frame's length comes from ITS header; the
    padding bit (exercised by the 44100 fixture) shifts lengths by one
    byte without desyncing the walk."""
    vbr = (codecs.encode_mp3_frames(2, bitrate_kbps=128)
           + codecs.encode_mp3_frames(3, bitrate_kbps=320)
           + codecs.encode_mp3_frames(1, bitrate_kbps=32))
    d = codecs.decode_mp3_meta(vbr)
    assert d["n_frames"] == 6 * 1152 and d["sample_rate"] == 44100


def test_mp3_hostile_framing_is_valueerror():
    good = codecs.encode_mp3_frames(4)
    with pytest.raises(ValueError, match="sync"):
        codecs.decode_mp3_meta(good + b"\x01garbage")
    with pytest.raises(ValueError, match="no audio frames"):
        codecs.decode_mp3_meta(b"ID3\x04\x00\x00\x00\x00\x00\x05" + b"\x00" * 5)
    # free-format bitrate (index 0) is an explicit boundary
    ff = bytearray(good)
    ff[2] = ff[2] & 0x0F
    with pytest.raises(ValueError, match="free-format"):
        codecs.decode_mp3_meta(bytes(ff))
    # trailing zero padding after the last frame is fine
    assert codecs.decode_mp3_meta(good + b"\x00" * 64)["n_frames"] == 4 * 1152


def _id3v2_frame(fid: bytes, text: str, enc: int = 3, v24: bool = False) -> bytes:
    codec = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}[enc]
    body = bytes([enc]) + text.encode(codec)
    n = len(body)
    size = (bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
            if v24 else n.to_bytes(4, "big"))
    return fid + size + b"\x00\x00" + body


def _id3v2(frames: bytes, ver: int = 3) -> bytes:
    n = len(frames)
    ss = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
    return b"ID3" + bytes([ver, 0, 0]) + ss + frames


def test_mp3_id3_tags_v2_and_v1():
    """ID3v2.3 (plain sizes) and v2.4 (syncsafe) text frames in all
    four encodings; ID3v1 trailer; v2 wins conflicts; malformed frames
    skip without an exception."""
    fr = (_id3v2_frame(b"TIT2", "Tïtle", enc=3)
          + _id3v2_frame(b"TPE1", "Artist", enc=0)
          + _id3v2_frame(b"TALB", "Альбом", enc=1)
          + _id3v2_frame(b"TYER", "1999", enc=2))
    payload = _id3v2(fr, ver=3) + codecs.encode_mp3_frames(2)
    tags = codecs.mp3_id3_tags(payload)
    assert (tags["title"], tags["artist"], tags["album"], tags["year"]) == (
        "Tïtle", "Artist", "Альбом", "1999")
    assert tags["frames"]["TIT2"] == "Tïtle"
    # v2.4 syncsafe sizes + TDRC
    p24 = _id3v2(_id3v2_frame(b"TDRC", "2004-06", v24=True), ver=4) + codecs.encode_mp3_frames(1)
    assert codecs.mp3_id3_tags(p24)["year"] == "2004-06"
    # ID3v1 trailer alone; then v2 overrides v1 title
    v1 = (b"TAG" + b"Old Title".ljust(30, b"\x00") + b"V1 Artist".ljust(30, b"\x00")
          + b"V1 Album".ljust(30, b"\x00") + b"1987" + b"\x00" * 31)
    only_v1 = codecs.encode_mp3_frames(1) + v1
    t1 = codecs.mp3_id3_tags(only_v1)
    assert (t1["title"], t1["artist"], t1["year"]) == ("Old Title", "V1 Artist", "1987")
    both = _id3v2(_id3v2_frame(b"TIT2", "New Title"), ver=3) + codecs.encode_mp3_frames(1) + v1
    tb = codecs.mp3_id3_tags(both)
    assert tb["title"] == "New Title" and tb["artist"] == "V1 Artist"
    # framing walk still works with the v1 trailer present
    assert codecs.decode_mp3_meta(both)["n_frames"] == 1152
    # hostile: declared frame size past the tag end -> stop, no raise
    bad = _id3v2(b"TIT2" + (1 << 20).to_bytes(4, "big") + b"\x00\x00\x03x", ver=3)
    assert codecs.mp3_id3_tags(bad + codecs.encode_mp3_frames(1)) == {}
    assert codecs.mp3_id3_tags(b"") == {}
    assert codecs.mp3_id3_tags(codecs.encode_mp3_frames(1)) == {}


def test_mp3_truncated_final_frame_is_valueerror():
    """r13 advice: a final frame whose declared length runs past the
    payload end must raise, not report a full frame count."""
    good = codecs.encode_mp3_frames(3)
    assert codecs.decode_mp3_meta(good)["n_frames"] == 3 * 1152
    with pytest.raises(ValueError, match="truncated"):
        codecs.decode_mp3_meta(good[:-50])
    # cutting exactly at a frame boundary stays valid (fewer frames)
    nb = 144 * 128 * 1000 // 44100  # frame 0: no padding bit
    assert codecs.decode_mp3_meta(good[:nb])["n_frames"] == 1152


def _syncsafe(n: int) -> bytes:
    return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])


def test_mp3_id3v24_footer_flag():
    """r13 advice: the v2.4 footer flag (header byte 5, 0x10) appends a
    10-byte '3DI' footer NOT counted in the syncsafe size; the framing
    walk must skip it instead of dying on lost sync, and the tag parse
    must still read the frames."""
    fr = _id3v2_frame(b"TIT2", "Footed", v24=True)
    tag = (b"ID3\x04\x00\x10" + _syncsafe(len(fr)) + fr
           + b"3DI\x04\x00\x10" + _syncsafe(len(fr)))
    payload = tag + codecs.encode_mp3_frames(2)
    assert codecs.decode_mp3_meta(payload)["n_frames"] == 2 * 1152
    assert codecs.mp3_id3_tags(payload)["title"] == "Footed"


def test_mp3_id3v2_unsync_and_extended_header():
    """r13 advice (optional half): the whole-tag unsynchronisation flag
    (0x80) un-stuffs FF 00 -> FF before the frame walk; the extended
    header flag (0x40) skips the extended header under both version
    size conventions (v2.3 excludes its own 4 size bytes, v2.4 syncsafe
    counts the whole thing); the v2.4 per-frame unsync flag un-stuffs
    one frame's body."""
    # v2.3 whole-tag unsync: latin-1 'ÿ' (0xFF) in the text
    fr = _id3v2_frame(b"TIT2", "\xffes", enc=0)
    un = fr.replace(b"\xff", b"\xff\x00")
    tag = b"ID3\x03\x00\x80" + _syncsafe(len(un)) + un
    assert codecs.mp3_id3_tags(tag + codecs.encode_mp3_frames(1))["title"] == "\xffes"
    # v2.3 extended header (size excludes its own 4 bytes)
    fr3 = _id3v2_frame(b"TIT2", "Ext3")
    body3 = (6).to_bytes(4, "big") + b"\x00" * 6 + fr3
    tag3 = b"ID3\x03\x00\x40" + _syncsafe(len(body3)) + body3
    assert codecs.mp3_id3_tags(tag3)["title"] == "Ext3"
    # v2.4 extended header (syncsafe size counts the whole header)
    fr4 = _id3v2_frame(b"TIT2", "Ext4", v24=True)
    body4 = _syncsafe(6) + b"\x01\x00" + fr4
    tag4 = b"ID3\x04\x00\x40" + _syncsafe(len(body4)) + body4
    assert codecs.mp3_id3_tags(tag4)["title"] == "Ext4"
    # v2.4 per-frame unsync flag (format flags bit 0x02)
    btxt = b"\x00" + b"a\xffz"
    ubody = btxt.replace(b"\xff", b"\xff\x00")
    frame = b"TIT2" + _syncsafe(len(ubody)) + b"\x00\x02" + ubody
    tag5 = b"ID3\x04\x00\x00" + _syncsafe(len(frame)) + frame
    assert codecs.mp3_id3_tags(tag5)["title"] == "a\xffz"
    # hostile extended-header size: skip-all, never an exception
    bad = (1 << 27).to_bytes(4, "big") + fr3
    tagbad = b"ID3\x03\x00\x40" + _syncsafe(len(bad)) + bad
    assert codecs.mp3_id3_tags(tagbad) == {}


def test_mp3_pcm_decode_stays_typed_boundary():
    with pytest.raises(NotImplementedError, match="PCM"):
        codecs.mp3_samples(codecs.encode_mp3_frames(1))


# --- GIF (real LZW) ---------------------------------------------------------

import numpy as np


def test_gif_roundtrip_regimes():
    """Bit-exact encode->decode across the LZW state machine: constant
    fill, full-gradient table growth, 250-color noise past the 12-bit cap
    (clear+reset), and long-run stripes (KwKwK chains)."""
    rng = np.random.RandomState(11)
    rasters = [
        np.full((4, 6, 3), (10, 200, 30), dtype=np.uint8),
        np.stack(np.meshgrid(np.arange(16) * 16, np.arange(16) * 16), -1)[
            :, :, [0, 1, 1]
        ].astype(np.uint8),
        None,  # big noise, built below
        np.where(np.arange(200)[None, :, None] % 2 == 0, 255, 0).astype(np.uint8)
        * np.ones((64, 1, 3), dtype=np.uint8),
    ]
    pal = np.stack(
        [np.arange(250), (np.arange(250) * 3) % 256, (np.arange(250) * 7) % 256], axis=1
    ).astype(np.uint8)
    rasters[2] = pal[rng.randint(0, 250, size=(128, 128))]
    for px in rasters:
        assert np.array_equal(codecs.decode_gif_pixels(codecs.encode_gif(px)), px)


def test_gif_decode_stats_and_sniff():
    px = np.full((4, 6, 3), (10, 200, 30), dtype=np.uint8)
    payload = codecs.encode_gif(px)
    assert codecs.sniff(payload) == "gif"
    d = codecs.decode_bytes(payload)
    assert (d["format"], d["width"], d["height"], d["channels"]) == ("gif", 6, 4, 3)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == (10.0, 200.0, 30.0)


def test_gif_89a_extension_blocks_skipped():
    """A GIF89a graphic-control extension before the image descriptor is
    skipped; the raster decodes identically."""
    px = np.full((2, 3, 3), (1, 2, 3), dtype=np.uint8)
    payload = bytearray(codecs.encode_gif(px))
    payload[4:6] = b"9a"
    # splice a GCE (0x21 0xF9, 4-byte block, terminator) after the GCT
    gct_end = 13 + 3 * 2  # 2-entry palette
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    spliced = bytes(payload[:gct_end]) + gce + bytes(payload[gct_end:])
    d = codecs.decode_bytes(spliced)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == (1.0, 2.0, 3.0)


def test_gif_interlaced_raises_not_implemented():
    px = np.full((2, 3, 3), (1, 2, 3), dtype=np.uint8)
    payload = bytearray(codecs.encode_gif(px))
    # image descriptor starts after header(13) + 2-entry GCT(6) at 0x2C;
    # its packed byte is the 9th descriptor byte
    idesc = 13 + 6
    assert payload[idesc] == 0x2C
    payload[idesc + 9] |= 0x40
    import pytest

    with pytest.raises(NotImplementedError, match="interlaced"):
        codecs.decode_bytes(bytes(payload))


def test_gif_truncations_are_value_errors():
    import pytest

    px = np.full((3, 5, 3), (9, 9, 9), dtype=np.uint8)
    full = codecs.encode_gif(px)
    for cut in (5, 12, 17, len(full) - 2):
        with pytest.raises((ValueError, NotImplementedError)):
            codecs.decode_bytes(full[:cut])


def _strict_lzw_decode(data: bytes, min_code_size: int, expect: int) -> bytes:
    """Spec-strict external-decoder model: never stops early, must read a
    well-formed END code at the correct width — catches encoder width
    desyncs our lenient decoder (which stops at w*h indices) forgives."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    table: list[bytes] = []
    code_size = 0
    prev = None

    def reset():
        nonlocal table, code_size, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        code_size = min_code_size + 1
        prev = None

    reset()
    acc = nbits = pos = 0
    while True:
        while nbits < code_size:
            assert pos < len(data), "EOF mid-code (END at wrong width)"
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            reset()
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        else:
            assert code == len(table), "code out of range"
            entry = prev + prev[:1]
            table.append(entry)
        out += entry
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
    assert len(out) == expect
    return bytes(out)


def test_gif_encoder_satisfies_strict_external_decoder():
    """The flush data code makes a strict decoder add a table entry and
    possibly bump the code width BEFORE reading END; the encoder must
    emit END at that bumped width (pre-fix: 10/400 random rasters hit
    EOF mid-END). Fixed seeds cover the boundary-crossing shapes."""
    rng = np.random.RandomState(3)
    cases = [rng.randint(0, rng.randint(1, 9), size=(rng.randint(1, 12), rng.randint(1, 12))).astype(np.uint8) for _ in range(200)]
    cases.append(rng.randint(0, 250, size=(128, 128)).astype(np.uint8))
    cases.append(np.zeros((1, 1), dtype=np.uint8))
    for idx in cases:
        ncol = int(idx.max()) + 1
        pal = (np.arange(max(ncol, 2))[:, None] * np.array([1, 3, 7]) % 256).astype(np.uint8)
        px = pal[idx]
        payload = codecs.encode_gif(px)
        w, h, palette, indices = codecs._parse_gif(payload)
        # re-extract the raw stream to strict-decode it
        pos = 13
        if payload[10] & 0x80:
            pos += 3 * (2 << (payload[10] & 0x07))
        pos += 10
        mcs = payload[pos]
        pos += 1
        stream = bytearray()
        while True:
            sz = payload[pos]
            pos += 1
            if sz == 0:
                break
            stream += payload[pos : pos + sz]
            pos += sz
        got = _strict_lzw_decode(bytes(stream), mcs, w * h)
        enc_pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        assert np.array_equal(enc_pal[np.frombuffer(got, dtype=np.uint8)].reshape(h, w, 3), px)
