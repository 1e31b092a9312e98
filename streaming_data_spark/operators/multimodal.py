"""[EXT] Multimodal columns (SURVEY.md §2.11 X4).

Design: image/audio/video payloads are opaque ``binary`` columns with
a typed metadata struct alongside — the engine plans around SIZE and
METADATA, never decoding in the relational path. Decode / feature
extraction runs in Arrow-batched ``mapInPandas`` so the 100 TB story
is: binary stays columnar in parquet, decode parallelizes per
partition, and the expensive step sees whole batches.

Decoder tiers:
- ``decoder="ppm"`` — a REAL image kernel, pure numpy: decodes binary
  PPM (P6) images, bilinear-resizes, re-encodes, and extracts real
  channel-statistics features. No media lib needed; real bytes in,
  real resized bytes out.
- ``decoder="wav"`` — a REAL audio kernel, stdlib struct + numpy:
  parses RIFF/WAVE PCM (8/16-bit, mono/stereo), linear-resamples, and
  extracts real RMS / zero-crossing / frame-energy-profile features.
- ``decoder="fake"`` — deterministic bytes-derived stand-in (sha256
  plumbing test double for payloads in neither real format).
- ``decoder="pil"``/"librosa" — the production upgrade for COMPRESSED
  formats (JPEG/PNG/MP3/OGG); those libs are absent from this
  container, so these raise NotImplementedError naming the dependency.
  The Spark-side contract — schemas, batch shapes, UDF signatures,
  partition behavior — is identical across all tiers.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

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

FEATURE_DIM = 16

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("n_bytes", LongType(), True),
    StructField("features", ArrayType(FloatType()), True),
])


def attach_media_meta(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Populate size metadata from the binary payload (pure JVM —
    length() works on binary)."""
    return df.withColumn(
        "meta",
        F.struct(
            F.col("meta.mime").alias("mime"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.col("meta.duration_ms").alias("duration_ms"),
            F.length(F.col(content_col)).cast("long").alias("n_bytes"),
        ),
    )


def _make_ppm_fns():
    """Pure-numpy PPM (P6) kernels: decode, encode, bilinear resize.

    Returned as NESTED functions (not module attributes) on purpose:
    closures that capture them are shipped by cloudpickle BY VALUE, so
    executor Python workers never need this package importable — the
    same self-containment rule as every other worker closure here.
    """
    import numpy as np

    def decode(payload: bytes):
        """P6 bytes -> HxWx3 uint8 array. Header: 'P6' w h maxval
        (ASCII, whitespace-separated, '#' comments allowed), then one
        whitespace byte and w*h*3 raw samples (maxval <= 255)."""
        if payload is None or payload[:2] != b"P6":
            raise ValueError("not a binary PPM (P6) payload")
        toks: list[int] = []
        i = 2
        # every scan position is bounds-checked: a truncated header
        # must raise, not spin — one malformed row would otherwise
        # hang its executor task forever
        while len(toks) < 3:
            if i >= len(payload):
                raise ValueError("truncated PPM header")
            c = payload[i : i + 1]
            if c == b"#":
                nl = payload.find(b"\n", i)
                if nl < 0:
                    raise ValueError("truncated PPM header")
                i = nl + 1
            elif c.isspace():
                i += 1
            else:
                j = i
                while j < len(payload) and not payload[j : j + 1].isspace():
                    j += 1
                if j == len(payload):
                    raise ValueError("truncated PPM header")
                toks.append(int(payload[i:j]))
                i = j
        i += 1  # single whitespace after maxval
        w, h, maxval = toks
        if maxval > 255:
            raise ValueError("16-bit PPM not supported")
        n = w * h * 3
        data = np.frombuffer(payload, dtype=np.uint8, count=n, offset=i)
        return data.reshape(h, w, 3)

    def encode(img) -> bytes:
        a = np.ascontiguousarray(np.asarray(img, dtype=np.uint8))
        h, w = a.shape[:2]
        return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()

    def resize(img, width: int, height: int):
        """Bilinear resample to (height, width), vectorized: sample
        positions map pixel centers to pixel centers (the standard
        align_corners=False convention)."""
        src = np.asarray(img, dtype=np.float64)
        sh, sw = src.shape[:2]
        ys = np.clip((np.arange(height) + 0.5) * sh / height - 0.5, 0, sh - 1)
        xs = np.clip((np.arange(width) + 0.5) * sw / width - 0.5, 0, sw - 1)
        y0 = np.floor(ys).astype(int)
        x0 = np.floor(xs).astype(int)
        y1 = np.minimum(y0 + 1, sh - 1)
        x1 = np.minimum(x0 + 1, sw - 1)
        wy = (ys - y0)[:, None, None]
        wx = (xs - x0)[None, :, None]
        top = src[y0][:, x0] * (1 - wx) + src[y0][:, x1] * wx
        bot = src[y1][:, x0] * (1 - wx) + src[y1][:, x1] * wx
        out = top * (1 - wy) + bot * wy
        return np.clip(np.rint(out), 0, 255).astype(np.uint8)

    def features(img, dim: int):
        """Real image features: per-channel mean/std (scaled to [0,1])
        + a (dim-6)-bin luminance histogram (mass-normalized)."""
        a = np.asarray(img, dtype=np.float64)
        flat = a.reshape(-1, 3)
        mean = flat.mean(axis=0) / 255.0
        std = flat.std(axis=0) / 255.0
        luma = flat @ np.array([0.299, 0.587, 0.114])
        hist, _ = np.histogram(luma, bins=dim - 6, range=(0.0, 255.0))
        hist = hist / max(1, luma.size)
        return [float(x) for x in np.concatenate([mean, std, hist])]

    return decode, encode, resize, features


def _make_wav_fns():
    """Pure numpy+struct WAV (RIFF/PCM) kernels: decode, encode,
    linear resample, audio features. Same nested-closure shipping rule
    as :func:`_make_ppm_fns` — workers get these by value.
    """
    import struct

    import numpy as np

    def decode(payload: bytes):
        """RIFF/WAVE PCM bytes -> (samples float64 in [-1,1] shaped
        (n_frames, n_channels), sample_rate). PCM 8/16-bit only; walks
        chunks word-aligned per the RIFF spec."""
        if payload is None or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE payload")
        fmt = data = None
        i = 12
        while i + 8 <= len(payload):
            cid = payload[i : i + 4]
            sz = int.from_bytes(payload[i + 4 : i + 8], "little")
            body = payload[i + 8 : i + 8 + sz]
            if cid == b"fmt ":
                fmt = body
            elif cid == b"data":
                data = body
            i += 8 + sz + (sz & 1)  # chunks are 2-byte aligned
        if fmt is None or data is None:
            raise ValueError("missing fmt/data chunk")
        audio_format, n_ch, rate = struct.unpack_from("<HHI", fmt, 0)
        bits = struct.unpack_from("<H", fmt, 14)[0]
        if audio_format != 1:
            raise ValueError("only uncompressed PCM supported")
        if bits == 16:
            a = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
        elif bits == 8:
            a = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
        n = len(a) // n_ch
        return a[: n * n_ch].reshape(n, n_ch), rate

    def encode(samples, rate: int) -> bytes:
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

    def resample(samples, src_rate: int, dst_rate: int):
        """Linear-interpolation resample per channel (the audio analog
        of bilinear image resize; center-aligned sample positions)."""
        src = np.asarray(samples, dtype=np.float64)
        if src.ndim == 1:
            src = src[:, None]
        n_src = src.shape[0]
        if n_src == 0:  # empty data chunk: empty in, empty out
            return src
        n_dst = max(1, int(round(n_src * dst_rate / src_rate)))
        xs = np.clip((np.arange(n_dst) + 0.5) * n_src / n_dst - 0.5, 0, n_src - 1)
        x0 = np.floor(xs).astype(int)
        x1 = np.minimum(x0 + 1, n_src - 1)
        w = (xs - x0)[:, None]
        return src[x0] * (1 - w) + src[x1] * w

    def features(samples, rate: int, dim: int):
        """Real audio features: RMS, zero-crossing rate, peak, mean
        (4 scalars) + a (dim-4)-frame energy profile (RMS per equal
        frame, peak-normalized)."""
        a = np.asarray(samples, dtype=np.float64)
        mono = a.mean(axis=1) if a.ndim == 2 else a
        if mono.size == 0:
            return [0.0] * dim
        rms = float(np.sqrt(np.mean(mono**2)))
        zcr = float(np.mean(np.abs(np.diff(np.signbit(mono).astype(np.int8)))))
        peak = float(np.max(np.abs(mono)))
        mean = float(np.mean(mono))
        n_frames = dim - 4
        edges = np.linspace(0, mono.size, n_frames + 1).astype(int)
        prof = [
            float(np.sqrt(np.mean(mono[s:e] ** 2))) if e > s else 0.0
            for s, e in zip(edges[:-1], edges[1:])
        ]
        top = max(prof) or 1.0
        return [rms, zcr, peak, mean] + [p / top for p in prof]

    return decode, encode, resample, features


# Driver-side aliases (tests, data generation). Worker closures call
# _make_ppm_fns() / _make_wav_fns() themselves — never these module
# attributes.
def encode_ppm(img) -> bytes:
    return _make_ppm_fns()[1](img)


def decode_ppm(payload: bytes):
    return _make_ppm_fns()[0](payload)


def encode_wav(samples, rate: int) -> bytes:
    return _make_wav_fns()[1](samples, rate)


def decode_wav(payload: bytes):
    return _make_wav_fns()[0](payload)


def resample_wav_array(samples, src_rate: int, dst_rate: int):
    return _make_wav_fns()[2](samples, src_rate, dst_rate)


def extract_features(
    df: DataFrame,
    decoder: str = "fake",
    batch_hint: int | None = None,
) -> DataFrame:
    """Decode/feature-extract via Arrow-batched mapInPandas.

    ``decoder='ppm'`` → REAL image decode (pure-numpy P6 parser) +
    real channel-stat features. ``decoder='wav'`` → REAL audio decode
    (stdlib-struct RIFF/PCM parser) + real RMS/ZCR/energy-profile
    features. ``decoder='fake'`` → deterministic bytes-derived vector.
    ``decoder='pil'|'librosa'`` → NotImplementedError naming the
    missing dependency (compressed formats: JPEG/PNG/MP3/OGG), raised
    on the EXECUTOR at first batch — the plan itself always builds.
    """
    import pandas as pd

    dim = FEATURE_DIM
    # Factories run on the DRIVER; the returned nested functions are
    # captured below and shipped by value with the closure.
    ppm_decode, _, _, ppm_features = _make_ppm_fns()
    wav_decode, _, _, wav_features = _make_wav_fns()

    # NB: the closure must be fully self-contained (no references to
    # module-level symbols) — cloudpickle ships it by value, and the
    # driver's Python workers may not have this package on their path.
    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as pd

        if decoder == "pil":
            raise NotImplementedError("image decode requires Pillow; not in this image")
        if decoder == "librosa":
            raise NotImplementedError("audio decode requires librosa; not in this image")
        if decoder not in ("fake", "ppm", "wav"):
            raise ValueError(f"unknown decoder {decoder!r}")

        def fake(payload: bytes | None) -> list[float]:
            digest = _hashlib.sha256(payload or b"").digest()
            return [digest[i % 32] / 255.0 for i in range(dim)]

        def real_ppm(payload: bytes | None) -> list[float]:
            return ppm_features(ppm_decode(payload), dim)

        def real_wav(payload: bytes | None) -> list[float]:
            samples, rate = wav_decode(payload)
            return wav_features(samples, rate, dim)

        feat = {"ppm": real_ppm, "wav": real_wav}.get(decoder, fake)
        for batch in batches:
            yield pd.DataFrame({
                "media_id": batch["media_id"],
                "kind": batch["kind"],
                "n_bytes": batch["content"].map(lambda b: len(b) if b is not None else 0),
                "features": batch["content"].map(feat),
            })

    return df.mapInPandas(_decode, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("content", BinaryType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
])


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    decoder: str = "fake",
) -> DataFrame:
    """Resize image rows via Arrow-batched mapInPandas: filter to
    images JVM-side (partition pruning can use `kind`), ship only
    (id, kind, content), emit resized payload + new dimensions.

    ``decoder='ppm'`` → REAL kernel: pure-numpy P6 decode → bilinear
    resize → P6 re-encode (real bytes in, real resized bytes out).
    ``decoder='fake'`` → deterministic stand-in payload (sha256 of the
    input bytes tiled to width*height/64 bytes — stable, size-scaled).
    ``decoder='pil'`` → NotImplementedError naming the dependency
    (the compressed-format upgrade), raised on the executor; the plan
    builds.
    """
    import pandas as pd

    ppm_decode, ppm_encode, ppm_resize, _ = _make_ppm_fns()

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as pd

        if decoder == "pil":
            raise NotImplementedError("image resize requires Pillow; not in this image")
        if decoder not in ("fake", "ppm"):
            raise ValueError(f"unknown decoder {decoder!r}")

        n_out = max(1, width * height // 64)

        def fake(payload: bytes | None) -> bytes:
            digest = _hashlib.sha256(payload or b"").digest()
            return (digest * (n_out // len(digest) + 1))[:n_out]

        def real(payload: bytes | None) -> bytes:
            return ppm_encode(ppm_resize(ppm_decode(payload), width, height))

        kernel = real if decoder == "ppm" else fake
        for batch in batches:
            yield pd.DataFrame({
                "media_id": batch["media_id"],
                "kind": batch["kind"],
                "content": batch["content"].map(kernel),
                "width": width,
                "height": height,
            })

    images = df.filter(F.col("kind") == "image").select("media_id", "kind", "content")
    return images.mapInPandas(_resize, schema=RESIZED_SCHEMA)


def sample_frames(
    df: DataFrame,
    every_ms: int = 1000,
) -> DataFrame:
    """Frame-sampling plumbing for video rows: one output row per
    sampled frame offset (metadata math only — the decode itself is
    the stubbed step above). Built-in explode over a JVM sequence, no
    Python."""
    frames = F.sequence(
        F.lit(0),
        F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
        F.lit(every_ms),
    )
    return (
        df.filter(F.col("kind") == "video")
        .withColumn("frame_ms", F.explode(frames))
        .select("media_id", "frame_ms", "content", "meta")
    )


FRAME_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", IntegerType(), False),
    StructField("content", BinaryType(), True),   # one standalone P6 frame
])


def split_video_frames(df: DataFrame, every_n: int = 1) -> DataFrame:
    """REAL video-frame extraction for the engine's uncompressed video
    format: a "PPMV" payload is concatenated binary-PPM (P6) frames.
    Emits one row per sampled frame (`frame_idx % every_n == 0`) whose
    content is that standalone P6 frame, ready for resize_images /
    extract_features(decoder='ppm').

    Sampling needs only HEADER parsing + byte slicing (each frame's
    extent is header + w*h*3), never pixel decode — at 100 TB the
    sampled-out frames are never materialized, which is the point of
    sampling before decoding. Compressed containers (mp4 etc.) remain
    the documented ffmpeg/PyAV NotImplementedError tier.
    """
    import pandas as pd

    def _split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        def frame_extent(payload: bytes, off: int) -> tuple[int, int]:
            """(body_start, next_offset) of the P6 frame at off.
            Bounds-checked: truncated headers/bodies raise instead of
            spinning or silently emitting short frames."""
            if payload[off : off + 2] != b"P6":
                raise ValueError(f"not a P6 frame at offset {off}")
            toks: list[int] = []
            i = off + 2
            while len(toks) < 3:
                if i >= len(payload):
                    raise ValueError(f"truncated P6 header at offset {off}")
                c = payload[i : i + 1]
                if c == b"#":
                    nl = payload.find(b"\n", i)
                    if nl < 0:
                        raise ValueError(f"truncated P6 header at offset {off}")
                    i = nl + 1
                elif c.isspace():
                    i += 1
                else:
                    j = i
                    while j < len(payload) and not payload[j : j + 1].isspace():
                        j += 1
                    if j == len(payload):
                        raise ValueError(f"truncated P6 header at offset {off}")
                    toks.append(int(payload[i:j]))
                    i = j
            i += 1  # single whitespace after maxval
            w, h, _ = toks
            end = i + w * h * 3
            if end > len(payload):
                raise ValueError(
                    f"truncated P6 frame body at offset {off}: "
                    f"needs {end - off} bytes, {len(payload) - off} available"
                )
            return i, end

        for batch in batches:
            ids: list[int] = []
            idxs: list[int] = []
            frames: list[bytes] = []
            for mid, payload in zip(batch["media_id"], batch["content"]):
                if payload is None:
                    continue
                payload = bytes(payload)
                off = 0
                k = 0
                while off < len(payload):
                    start = off
                    _, off = frame_extent(payload, off)
                    if k % every_n == 0:
                        ids.append(mid)
                        idxs.append(k)
                        frames.append(payload[start:off])
                    k += 1
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "content": frames}
            )

    videos = df.filter(F.col("kind") == "video").select("media_id", "content")
    return videos.mapInPandas(_split, schema=FRAME_SCHEMA)
