"""Multimodal columns for training-data pipelines.

Images/audio/video ride as opaque ``BINARY`` columns with a typed metadata
struct; decode/feature-extraction runs in Arrow-batched ``mapInPandas``
(one Python crossing per batch, not per row).

Decode is REAL for the formats the Python stdlib can parse with zero
external codecs — WAV/PCM audio (``wave`` + ``struct``) and binary PPM/PGM
images (pure byte parsing) — via :func:`decode_wav` / :func:`decode_pnm`
and the typed :func:`media_features` kernel.  Formats that genuinely need
codec libraries absent from this container (JPEG, MP4, ...) raise
``NotImplementedError`` at the clearly-marked boundary; the byte-histogram
stub in :func:`extract_features` remains for format-agnostic near-dup
plumbing tests.
"""

from __future__ import annotations

import struct
import wave

# what a corrupt or truncated payload can raise out of the stdlib
# codecs — the non-strict paths turn ALL of these into null-feature
# rows, not just the unknown-magic NotImplementedError
_DECODE_ERRORS = (NotImplementedError, ValueError, EOFError,
                  struct.error, wave.Error)
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from carbonapi_spark.sqltext import local_df as _local_df
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),  # image | audio | video
    StructField("mime", StringType()),
    StructField("payload", BinaryType()),
    StructField("meta", StructType([
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("sample_rate", IntegerType()),
    ])),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("feature", ArrayType(DoubleType())),
])


# ------------------------------------------------------------ real codecs

def encode_wav(samples, rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV bytes via the stdlib ``wave`` writer (canonical
    44-byte RIFF header + little-endian int16 frames)."""
    import io
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """(sample_rate, int16 sample array) from WAV bytes — a REAL container
    parse (stdlib ``wave``): RIFF framing, fmt chunk, data chunk."""
    import io
    import wave
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise NotImplementedError(
                "only mono 16-bit PCM WAV is decoded in-container")
        raw = w.readframes(w.getnframes())
        return w.getframerate(), np.frombuffer(raw, dtype="<i2")


def encode_pnm(width: int, height: int, pixels: bytes,
               color: bool = True) -> bytes:
    """Binary PPM (P6, RGB) or PGM (P5, gray) bytes: ASCII header +
    raw 8-bit raster, ``3*w*h`` (P6) or ``w*h`` (P5) payload bytes."""
    magic = b"P6" if color else b"P5"
    expect = width * height * (3 if color else 1)
    if len(pixels) != expect:
        raise ValueError(f"raster length {len(pixels)} != {expect}")
    return magic + b"\n%d %d\n255\n" % (width, height) + pixels


def decode_pnm(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """(width, height, channels, uint8 raster) from binary PPM/PGM bytes —
    a real header parse (magic, whitespace/comment-tolerant dims,
    maxval) with strict raster-length validation."""
    if payload[:2] not in (b"P5", b"P6"):
        raise NotImplementedError(
            f"unsupported image magic {payload[:2]!r}; only binary "
            "PPM (P6) / PGM (P5) decode without codec libraries")
    channels = 3 if payload[:2] == b"P6" else 1
    # header = magic, width, height, maxval tokens; '#' comments allowed
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while payload[pos:pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PNM rasters not supported")
    raster = np.frombuffer(payload, dtype=np.uint8,
                           count=width * height * channels, offset=pos)
    return width, height, channels, raster


def _stub_feature(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic fake 'embedding': byte histogram folded to `dim`.
    Stands in for a real decoder+encoder; same payload -> same vector."""
    if payload is None:
        return np.zeros(dim)
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr % dim, minlength=dim).astype(float)
    norm = np.linalg.norm(hist)
    return hist / norm if norm > 0 else hist


def extract_features(media: DataFrame, dim: int = 16,
                     decode_stub: bool = True,
                     decode=None) -> DataFrame:
    """Decode + feature-extract each media row via mapInPandas.

    ``decode`` is the pluggable codec boundary: a picklable callable
    ``(payload: bytes | None, kind: str) -> sequence[float]`` shipped to the
    executors inside the mapInPandas closure — this is where a user wires
    PIL / torchaudio / ffmpeg outside this container. Without one, the
    deterministic byte-histogram stub runs (``decode_stub=True``), and
    ``decode_stub=False`` raises to make the missing-codec boundary
    explicit rather than silently fake.
    """
    if decode is None:
        if not decode_stub:
            raise NotImplementedError(
                "real image/audio decoding requires codec libraries not "
                "present in this container; pass decode= or decode_stub=True")
        decode = lambda payload, kind: _stub_feature(payload, dim).tolist()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [list(map(float, decode(p, k)))
                     for p, k in zip(pdf["payload"], pdf["kind"])]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [0 if p is None else len(p) for p in pdf["payload"]],
                "feature": feats,
            })

    return media.mapInPandas(batches, FEATURE_SCHEMA)


MEDIA_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("width", IntegerType()),        # image only
    StructField("height", IntegerType()),       # image only
    StructField("n_samples", IntegerType()),    # audio only
    StructField("sample_rate", IntegerType()),  # audio only
    StructField("mean_val", DoubleType()),      # mean sample / pixel value
    StructField("rms", DoubleType()),           # sqrt(mean(value^2))
])


def _exact_stats(vals: np.ndarray) -> tuple[float, float]:
    """(mean, rms) with integer-exact sums: sample/pixel values are small
    ints, so summing in int64 keeps both statistics bit-reproducible by
    any engine that also sums exactly (the DuckDB oracle does)."""
    n = len(vals)
    if n == 0:
        return 0.0, 0.0
    v = vals.astype(np.int64)
    s = int(v.sum())
    s2 = int((v * v).sum())
    import math
    return s / n, math.sqrt(s2 / n)


def media_features(media: DataFrame, strict: bool = True) -> DataFrame:
    """REAL decode + typed features per media row, Arrow-batched.

    Sniffs the container from magic bytes (``RIFF``->WAV, ``P5``/``P6``
    ->PNM) and parses it with the stdlib codecs above — wrong header
    arithmetic or int16 framing would produce wrong features, which is
    exactly what the catalog oracle cross-checks.  Unknown formats (JPEG,
    MP4, ...) raise ``NotImplementedError`` when ``strict`` (the honest
    codec boundary) or yield a null-feature row otherwise.

    Scale shape: one ``mapInPandas`` crossing per Arrow batch; each row
    is decoded once, features are O(payload) with no shuffle — embed it
    after a scan and the whole stage pipelines."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("media_id", "kind", "n_bytes", "width",
                                   "height", "n_samples", "sample_rate",
                                   "mean_val", "rms")}
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                p = bytes(payload) if payload is not None else b""
                row = dict.fromkeys(out)
                row["media_id"], row["kind"] = mid, kind
                row["n_bytes"] = len(p)
                try:
                    if p[:4] == b"RIFF":
                        rate, samples = decode_wav(p)
                        row["n_samples"] = len(samples)
                        row["sample_rate"] = rate
                        m, r = _exact_stats(samples)
                        row["mean_val"], row["rms"] = round(m, 6), round(r, 6)
                    elif p[:2] in (b"P5", b"P6"):
                        w, h, _c, raster = decode_pnm(p)
                        row["width"], row["height"] = w, h
                        m, r = _exact_stats(raster)
                        row["mean_val"], row["rms"] = round(m, 6), round(r, 6)
                    else:
                        raise NotImplementedError(
                            f"no in-container codec for media {mid} "
                            f"({kind}): unknown magic {p[:4]!r}")
                except _DECODE_ERRORS:
                    # corrupt/truncated payloads (wave.Error, header
                    # int('') ValueError, short-buffer struct.error/
                    # EOFError) degrade like unknown formats: raise
                    # when strict, null-feature row otherwise
                    if strict:
                        raise
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, MEDIA_FEATURES_SCHEMA)


def synth_media_from_ids(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic media synthesis keyed by an integer id column — the
    encode side of the round-trip: odd ids become real WAV audio, even
    ids real PPM images, with sample/pixel values that are pure
    arithmetic in the id (so an oracle can replay the FEATURES without
    parsing bytes, while the Spark side must parse the real container to
    reach them).

      audio (odd i):  rate 8000, n = 32 + i%64 samples,
                      sample[j] = ((i*31 + j*7) % 2048) - 1024
      image (even i): w = 8 + i%8, h = 6, RGB,
                      raster[p]  = (i*13 + p) % 251
    """
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"media_id": [], "kind": [], "mime": [], "payload": [],
                    "meta": []}
            for i in pdf[id_col]:
                i = int(i)
                if i % 2 == 1:
                    n = 32 + i % 64
                    samples = [((i * 31 + j * 7) % 2048) - 1024
                               for j in range(n)]
                    rows["kind"].append("audio")
                    rows["mime"].append("audio/wav")
                    rows["payload"].append(encode_wav(samples, 8000))
                    rows["meta"].append({"width": None, "height": None,
                                         "duration_ms": n * 1000 // 8000,
                                         "sample_rate": 8000})
                else:
                    w, h = 8 + i % 8, 6
                    raster = bytes((i * 13 + p) % 251
                                   for p in range(3 * w * h))
                    rows["kind"].append("image")
                    rows["mime"].append("image/x-portable-pixmap")
                    rows["payload"].append(encode_pnm(w, h, raster))
                    rows["meta"].append({"width": w, "height": h,
                                         "duration_ms": None,
                                         "sample_rate": None})
                rows["media_id"].append(i)
            yield pd.DataFrame(rows)

    return ids.select(F.col(id_col)).mapInPandas(batches, MEDIA_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int,
                  strict: bool = True) -> DataFrame:
    """REAL image resize for the decodable formats: PNM payloads are
    decoded, nearest-neighbor-resampled to (width, height), and
    re-encoded as the same PNM flavor — (media_id, kind, payload,
    width, height) with the payload a valid container again, so resize
    chains with ``media_features``/``extract_features``.

    Nearest-neighbor index math is integer-exact (src = i * src_dim //
    dst_dim), so the output raster is deterministic — pinned by the
    round-trip pytest rather than a SQL oracle (byte payloads don't
    value-hash across engines).  Non-image or undecodable rows raise
    when ``strict`` else pass through with a null payload, the
    ``media_features`` degradation contract.  Same scale shape as the
    other kernels: one ``mapInPandas`` crossing, O(pixels) per row, no
    shuffle."""
    out_schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in ("media_id", "kind", "payload",
                                    "width", "height")}
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                p = bytes(payload) if payload is not None else b""
                new, w_out, h_out = None, None, None
                try:
                    if p[:2] not in (b"P5", b"P6"):
                        raise NotImplementedError(
                            f"no resizable codec for media {mid}: "
                            f"magic {p[:4]!r}")
                    w, h, c, raster = decode_pnm(p)
                    img = raster.reshape(h, w, c)
                    ys = (np.arange(height) * h) // height
                    xs = (np.arange(width) * w) // width
                    new_img = img[ys][:, xs]
                    new = encode_pnm(width, height,
                                     new_img.tobytes(), color=(c == 3))
                    w_out, h_out = width, height
                except _DECODE_ERRORS:
                    if strict:
                        raise
                rows["media_id"].append(mid)
                rows["kind"].append(kind)
                rows["payload"].append(new)
                rows["width"].append(w_out)
                rows["height"].append(h_out)
            yield pd.DataFrame(rows)

    return media.mapInPandas(batches, out_schema)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per frame to decode.
    The explode happens JVM-side; the (stubbed) decode would consume it."""
    n_frames = (F.coalesce(F.col("meta.duration_ms"), F.lit(0)) / every_ms) \
        .cast("int")
    return (media.where(F.col("kind") == "video")
            .withColumn("frame_idx",
                        F.explode(F.sequence(F.lit(0),
                                             F.greatest(n_frames - 1, F.lit(0)))))
            .select("media_id", "frame_idx",
                    (F.col("frame_idx") * every_ms).alias("frame_ms"),
                    "payload"))


def synth_media(spark, n: int = 32) -> DataFrame:
    """Deterministic synthetic media table for tests: image rows are real
    binary PPMs, audio rows real WAVs (both decodable by
    :func:`media_features`); video rows keep an opaque fake payload —
    there is genuinely no in-container video codec, and the row exists to
    exercise the NotImplementedError boundary and
    :func:`frame_sample_plan`."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            # quadratic byte pattern: per-id DISTINCT byte histograms
            # (consecutive runs are uniform mod any power of two, which
            # would alias the histogram-stub features across ids)
            w, h = 8, 6
            payload = encode_pnm(w, h, bytes((i * 7 + j * j) % 251
                                             for j in range(3 * w * h)))
            mime = "image/x-portable-pixmap"
        elif kind == "audio":
            payload = encode_wav([((i * 7 + j * j) % 512) - 256
                                  for j in range(64 + i)], 16000)
            mime = "audio/wav"
        else:
            payload = bytes((i * 7 + j) % 251 for j in range(64 + i))
            mime = "video/x-fake"
        rows.append((i, kind, mime, payload, (8, 6, 4000, 16000)))
    return _local_df(spark, rows, MEDIA_SCHEMA)


MEDIA_DSP_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("zero_crossings", LongType()),   # audio
    StructField("peak", LongType()),             # audio
    StructField("dominant_lag", IntegerType()),  # audio
    StructField("mean_r", DoubleType()),         # image (3-channel)
    StructField("mean_g", DoubleType()),
    StructField("mean_b", DoubleType()),
    StructField("grad_energy", LongType()),      # image
])


def media_dsp_features(media: DataFrame, max_lag: int = 16,
                       strict: bool = True) -> DataFrame:
    """Second-order signal features on the REAL decoded payloads —
    the step past ``media_features``'s first moments:

      audio: ``zero_crossings`` (sign flips, sign(0) treated
             non-negative), ``peak`` (max |sample|), and
             ``dominant_lag`` — the argmax over lags 1..``max_lag`` of
             the raw autocorrelation sum(s[j]*s[j+L]) (smallest lag wins
             ties), the classic O(max_lag * n) pitch/periodicity proxy.
      image: per-channel means and ``grad_energy`` =
             sum |p[i+C] - p[i]| over the interleaved raster (stride =
             channel count) — the horizontal-gradient edge-density
             signal used by blur/blank-frame filters.

    Every statistic is derived from integer sample/pixel values with
    int64-exact sums (the autocorrelation argmax compares exact
    integers), so features replay bit-for-bit in any engine that can
    evaluate the same arithmetic — which is what the catalog oracle
    does.  Same ``mapInPandas`` shape and strictness contract as
    ``media_features``."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = ("media_id", "kind", "zero_crossings", "peak",
                    "dominant_lag", "mean_r", "mean_g", "mean_b",
                    "grad_energy")
            out = {k: [] for k in cols}
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                p = bytes(payload) if payload is not None else b""
                row = dict.fromkeys(cols)
                row["media_id"], row["kind"] = mid, kind
                try:
                    if p[:4] == b"RIFF":
                        _rate, s = decode_wav(p)
                        v = s.astype(np.int64)
                        nn = v >= 0
                        row["zero_crossings"] = int((nn[1:] != nn[:-1]).sum())
                        row["peak"] = int(np.abs(v).max()) if len(v) else 0
                        hi = min(max_lag, len(v) - 1)
                        if hi >= 1:
                            best_lag, best_r = None, None
                            for lag in range(1, hi + 1):
                                r = int((v[:-lag] * v[lag:]).sum())
                                if best_r is None or r > best_r:
                                    best_lag, best_r = lag, r
                            row["dominant_lag"] = best_lag
                    elif p[:2] in (b"P5", b"P6"):
                        w, h, c, raster = decode_pnm(p)
                        v = raster.astype(np.int64)
                        if c == 3:
                            npix = w * h
                            row["mean_r"] = round(int(v[0::3].sum()) / npix, 6)
                            row["mean_g"] = round(int(v[1::3].sum()) / npix, 6)
                            row["mean_b"] = round(int(v[2::3].sum()) / npix, 6)
                        row["grad_energy"] = int(
                            np.abs(v[c:] - v[:-c]).sum()) if len(v) > c else 0
                    else:
                        raise NotImplementedError(
                            f"no in-container codec for media {mid} "
                            f"({kind}): unknown magic {p[:4]!r}")
                except _DECODE_ERRORS:
                    # corrupt/truncated payloads (wave.Error, header
                    # int('') ValueError, short-buffer struct.error/
                    # EOFError) degrade like unknown formats: raise
                    # when strict, null-feature row otherwise
                    if strict:
                        raise
                for k in cols:
                    out[k].append(row[k])
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, MEDIA_DSP_SCHEMA)
