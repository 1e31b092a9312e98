"""Multimodal-column plumbing (X4): binary payloads + typed metadata,
Arrow-batched feature extraction over the fake, PPM and WAV decoders."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from streaming_data_spark.operators import multimodal as mm

# Media fixture rows: the (media_id, kind, content) frame that
# extract_features reads, plus a metadata struct it ignores.
MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),        # image | audio | video
    StructField("content", BinaryType(), True),       # opaque payload
    StructField("meta", StructType([
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
        StructField("n_bytes", LongType(), True),
    ]), True),
])

decode_ppm = mm._make_ppm_fns()[0]
decode_wav = mm._make_wav_fns()[0]


def encode_ppm(img) -> bytes:
    """HxWx3 uint8 array -> binary PPM (P6) bytes."""
    a = np.ascontiguousarray(np.asarray(img, dtype=np.uint8))
    h, w = a.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def encode_wav(samples, rate: int) -> bytes:
    """float samples in [-1,1] (1-D mono or (n, ch)) -> 16-bit PCM
    WAV bytes."""
    a = np.asarray(samples, dtype=np.float64)
    if a.ndim == 1:
        a = a[:, None]
    pcm = np.clip(np.rint(a * 32767.0), -32768, 32767).astype("<i2")
    n_ch = pcm.shape[1]
    data = pcm.tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


@pytest.fixture()
def media_df(spark):
    rows = [
        Row(media_id=1, kind="image", content=b"\x89PNG fake bytes",
            meta=Row(mime="image/png", width=64, height=64, duration_ms=None, n_bytes=None)),
        Row(media_id=2, kind="video", content=b"\x00\x00ftyp fake",
            meta=Row(mime="video/mp4", width=320, height=240, duration_ms=3500, n_bytes=None)),
        Row(media_id=3, kind="audio", content=None,
            meta=Row(mime="audio/wav", width=None, height=None, duration_ms=2000, n_bytes=None)),
    ]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def test_extract_features_deterministic(media_df):
    a = {r.media_id: r.features for r in mm.extract_features(media_df).collect()}
    b = {r.media_id: r.features for r in mm.extract_features(media_df).collect()}
    assert a == b
    assert len(a[1]) == mm.FEATURE_DIM
    assert all(0.0 <= x <= 1.0 for x in a[1])
    assert a[1] != a[2]  # different bytes, different features


def test_extract_features_real_decoder_stubbed(media_df):
    out = mm.extract_features(media_df, decoder="pil")
    with pytest.raises(Exception, match="unknown decoder 'pil'"):
        out.collect()


@pytest.fixture()
def ppm_df(spark):
    """Two real binary-PPM images: a 4x4 horizontal red→black gradient
    and an 8x2 constant mid-gray (with a header comment to exercise
    the parser)."""
    grad = np.zeros((4, 4, 3), dtype=np.uint8)
    grad[:, :, 0] = np.array([255, 170, 85, 0], dtype=np.uint8)[None, :]
    gray = np.full((2, 8, 3), 128, dtype=np.uint8)
    gray_bytes = encode_ppm(gray).replace(b"P6\n", b"P6\n# comment\n", 1)
    rows = [
        Row(media_id=10, kind="image", content=encode_ppm(grad),
            meta=Row(mime="image/x-portable-pixmap", width=4, height=4,
                     duration_ms=None, n_bytes=None)),
        Row(media_id=11, kind="image", content=gray_bytes,
            meta=Row(mime="image/x-portable-pixmap", width=8, height=2,
                     duration_ms=None, n_bytes=None)),
    ]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def test_ppm_codec_roundtrip():
    """encode → decode is the identity, including a commented header."""
    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)
    commented = encode_ppm(img).replace(b"P6\n", b"P6\n# c\n", 1)
    assert np.array_equal(decode_ppm(commented), img)


def test_extract_features_real_ppm_decoder(spark, ppm_df):
    """Real feature math: constant mid-gray → mean ~128/255, zero std,
    all luminance mass in one histogram bin."""
    feats = {r.media_id: r.features for r in
             mm.extract_features(ppm_df, decoder="ppm").collect()}
    f = feats[11]
    assert len(f) == mm.FEATURE_DIM
    assert abs(f[0] - 128 / 255) < 1e-6 and abs(f[1] - 128 / 255) < 1e-6
    assert f[3] == f[4] == f[5] == 0.0  # per-channel std of a constant
    hist = f[6:]
    assert abs(sum(hist) - 1.0) < 1e-6
    assert max(hist) == 1.0  # single luminance value → one bin


@pytest.fixture()
def wav_df(spark):
    """Two real PCM WAV payloads: a 440 Hz mono sine at 8 kHz and a
    constant-silence stereo clip."""
    t = np.arange(800) / 8000.0
    sine = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    silence = np.zeros((400, 2))
    rows = [
        Row(media_id=20, kind="audio", content=encode_wav(sine, 8000),
            meta=Row(mime="audio/wav", width=None, height=None,
                     duration_ms=100, n_bytes=None)),
        Row(media_id=21, kind="audio", content=encode_wav(silence, 8000),
            meta=Row(mime="audio/wav", width=None, height=None,
                     duration_ms=50, n_bytes=None)),
    ]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def test_wav_codec_roundtrip():
    """encode → decode recovers samples to 16-bit precision, for both
    mono and stereo, and preserves the sample rate."""
    # encode scales by 32767, decode divides by 32768 (the standard
    # asymmetric PCM convention): worst-case roundtrip error is
    # |x|/32768 (scale mismatch) + 0.5/32768 (rounding) < 1/16384
    bound = 1.0 / 16384
    mono = np.linspace(-1.0, 1.0, 101)
    got, rate = decode_wav(encode_wav(mono, 44100))
    assert rate == 44100 and got.shape == (101, 1)
    assert np.max(np.abs(got[:, 0] - mono)) <= bound

    stereo = np.stack([np.sin(np.arange(50) / 5.0), np.cos(np.arange(50) / 5.0)], axis=1)
    got2, rate2 = decode_wav(encode_wav(stereo, 16000))
    assert rate2 == 16000 and got2.shape == (50, 2)
    assert np.max(np.abs(got2 - stereo)) <= bound


def test_extract_features_real_wav_decoder(spark, wav_df):
    """Real audio feature math: the sine clip has RMS ~0.5/sqrt(2) and
    a flat energy profile; silence is all-zero features."""
    feats = {r.media_id: r.features for r in
             mm.extract_features(wav_df, decoder="wav").collect()}
    sine = feats[20]
    assert len(sine) == mm.FEATURE_DIM
    assert abs(sine[0] - 0.5 / 2 ** 0.5) < 0.01   # RMS
    assert sine[2] > 0.49                          # peak ~0.5
    prof = sine[4:]
    assert min(prof) > 0.9                         # steady tone → flat profile
    silence = feats[21]
    assert silence[0] == 0.0 and silence[2] == 0.0
    assert all(p == 0.0 for p in silence[4:])


def test_ppm_truncated_header_raises_not_hangs():
    """A payload cut off mid-header must raise ValueError — the scan
    loops are bounds-checked so one malformed row can't wedge an
    executor task forever."""
    for bad in (b"P6", b"P6\n", b"P6\n12", b"P6\n# comment with no newline",
                b"P6\n3 2"):
        with pytest.raises(ValueError):
            decode_ppm(bad)
