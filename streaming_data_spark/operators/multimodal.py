"""[EXT] Multimodal columns (SURVEY.md §2.11 X4).

Design: image/audio/video payloads are opaque ``binary`` columns in a
``(media_id, kind, content)`` frame — the engine plans around SIZE,
never decoding in the relational path. Decode / feature
extraction runs in Arrow-batched ``mapInPandas`` so the 100 TB story
is: binary stays columnar in parquet, decode parallelizes per
partition, and the expensive step sees whole batches.

Decoder tiers of ``extract_features`` (the registry query
``x9_media_features`` runs the ``fake`` tier):
- ``decoder="ppm"`` — a REAL image kernel, pure numpy: decodes binary
  PPM (P6) images and extracts real channel-statistics features. No
  media lib needed.
- ``decoder="wav"`` — a REAL audio kernel, stdlib struct + numpy:
  parses RIFF/WAVE PCM (8/16-bit, mono/stereo) and extracts real RMS /
  zero-crossing / frame-energy-profile features.
- ``decoder="fake"`` — deterministic bytes-derived stand-in (sha256
  plumbing test double for payloads in neither real format).
The Spark-side contract — schemas, batch shapes, partition behavior —
is identical across all tiers; any other decoder raises ValueError.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 16

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("n_bytes", LongType(), True),
    StructField("features", ArrayType(FloatType()), True),
])


def _make_ppm_fns():
    """Pure-numpy PPM (P6) kernels: decode and image features.

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

    return decode, features


def _make_wav_fns():
    """Pure numpy+struct WAV (RIFF/PCM) kernels: decode and audio
    features. Same nested-closure shipping rule as
    :func:`_make_ppm_fns` — workers get these by value.
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

    return decode, features


def extract_features(
    df: DataFrame,
    decoder: str = "fake",
) -> DataFrame:
    """Decode/feature-extract via Arrow-batched mapInPandas.

    ``decoder='ppm'`` → REAL image decode (pure-numpy P6 parser) +
    real channel-stat features. ``decoder='wav'`` → REAL audio decode
    (stdlib-struct RIFF/PCM parser) + real RMS/ZCR/energy-profile
    features. ``decoder='fake'`` → deterministic bytes-derived vector.
    Any other decoder raises ValueError on the EXECUTOR at first batch
    — the plan itself always builds.
    """
    import pandas as pd

    dim = FEATURE_DIM
    # Factories run on the DRIVER; the returned nested functions are
    # captured below and shipped by value with the closure.
    ppm_decode, ppm_features = _make_ppm_fns()
    wav_decode, wav_features = _make_wav_fns()

    # NB: the closure must be fully self-contained (no references to
    # module-level symbols) — cloudpickle ships it by value, and the
    # driver's Python workers may not have this package on their path.
    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as pd

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
