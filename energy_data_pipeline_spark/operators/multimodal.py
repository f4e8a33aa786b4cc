"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched ``mapInPandas`` UDFs.

The engine does not re-implement codecs. Decode is native compute
plugged in behind one seam:

- ``mapInPandas`` carries payload batches to a per-row kernel.
- ``media_capabilities`` probes the optional libraries (PIL /
  soundfile / av) once per worker process.
- Two builtin kernels need no library and run anywhere: binary PNM
  images (pure numpy → column mean intensity) and WAV audio (stdlib
  ``wave`` plus a RIFF walk for float and G.711 → per-block RMS
  energy). They are selected per row by payload magic.
- Any other image format decodes through PIL (libjpeg, libpng, ...)
  on a cluster image that has it.

Modes: ``fake=True`` pins a deterministic md5-seeded fake kernel (the
catalog queries do this: their DuckDB oracles reproduce the fake
features exactly). ``fake=None`` (auto) decodes for real where a
library or builtin applies and degrades every other row to the fake,
as it does for a corrupt member. ``fake=False`` demands a real kernel
and raises ``MissingMediaLibrary`` where neither applies. The
Spark-side plumbing (schema, batching, partitioning) is therefore fully
testable in a libs-free sandbox and upgrades in place on a cluster
image that has the codecs.

At scale: binary payloads ride in parquet; ``spark.sql.files.
maxPartitionBytes`` bounds batch memory; metadata predicates (width,
format, duration) push down to the scan so the binary column is only
materialized for surviving rows.
"""

from __future__ import annotations

import hashlib
import importlib.util
import struct
from collections.abc import Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..shipping import ensure_worker_imports

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("format", StringType(), True),  # png/jpeg/wav/mp4...
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
        StructField("payload", BinaryType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("feature", ArrayType(DoubleType()), True),
    ]
)


def _fake_decode(payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic stand-in for a real decode+embed kernel: md5-seeded
    pseudo-features. Replace with PIL/torchvision/librosa in production."""
    if payload is None:
        return np.zeros(dim)
    digest = hashlib.md5(payload).digest()
    raw = np.frombuffer((digest * ((dim * 8) // len(digest) + 1))[: dim * 8], dtype="<u8")
    return (raw % 10_000).astype("float64") / 10_000.0


class MissingMediaLibrary(NotImplementedError):
    """The real decode kernel was demanded (``fake=False``) but its
    library is absent on this worker."""


@lru_cache(maxsize=1)
def media_capabilities() -> dict[str, bool]:
    """Probe optional decode libraries ONCE per (worker) process.

    find_spec does not import the library — the probe is cheap enough to
    run in every UDF without paying decoder init for kinds never seen.
    """
    return {
        "image": importlib.util.find_spec("PIL") is not None,
        "audio": (
            importlib.util.find_spec("soundfile") is not None
            or importlib.util.find_spec("librosa") is not None
        ),
        "video": importlib.util.find_spec("av") is not None,
        # builtin (stdlib/numpy) kernels — always available, reported so
        # an operator can tell "no library but this format still
        # decodes for real" from "fake only"
        "builtin:pnm": True,
        "builtin:wav": True,
    }


# kinds decode_real has a LIBRARY-GENERAL kernel for (any format the
# library reads); auto mode (fake=None) only routes a kind here when it
# is BOTH listed and capability-probed — a kind whose library is
# installed but whose kernel is unwritten must degrade to the fake, not
# crash with a misleading "install X" error. Independent of libraries,
# BUILTIN kernels (stdlib/numpy only — WAV audio, PNM images) are
# selected per-row by payload magic via _sniff_builtin.
REAL_KERNEL_KINDS = frozenset({"image"})


def _sniff_builtin(payload: bytes | None, kind: str) -> str | None:
    """Which builtin (no-library) kernel can decode this payload, if any.

    Magic-byte detection is per-row and total: a corpus mixing genuine
    WAV/PNM payloads with other formats decodes what it can and lets
    auto mode degrade the rest — no per-partition or per-job flag.
    """
    if payload is None:
        return None
    if kind == "audio" and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if kind == "image" and payload[:2] in (b"P5", b"P6"):
        return "pnm"
    return None


def _area_resample_axis(a: np.ndarray, dim: int, axis: int) -> np.ndarray:
    """Resample one axis to length ``dim``: area (block-mean) when
    shrinking, nearest-neighbor when growing. Pure numpy, total for any
    input length >= 1."""
    n = a.shape[axis]
    if n >= dim:
        bounds = (np.arange(dim) * n) // dim
        sums = np.add.reduceat(a, bounds, axis=axis)
        counts = np.diff(np.append(bounds, n)).astype("float64")
        shape = [1] * a.ndim
        shape[axis] = dim
        return sums / counts.reshape(shape)
    idx = (np.arange(dim) * n) // dim
    return np.take(a, idx, axis=axis)


def _parse_pnm(payload: bytes) -> np.ndarray:
    """Binary PNM (P5 grayscale / P6 RGB, maxval <= 255) → float array in
    [0,1], shape (h, w) or (h, w, 3). Header = 4 whitespace-separated
    tokens with '#' comments, one whitespace byte, then the raster."""
    tokens: list[bytes] = []
    pos = 0
    while len(tokens) < 4:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PNM header")
        tokens.append(payload[start:pos])
    pos += 1  # the single whitespace byte that ends the header
    magic, w, h, maxval = tokens[0], int(tokens[1]), int(tokens[2]), int(tokens[3])
    if maxval > 255:
        raise ValueError("16-bit PNM not supported by the builtin kernel")
    ch = 3 if magic == b"P6" else 1
    need = w * h * ch
    raster = np.frombuffer(payload, dtype="u1", count=need, offset=pos)
    arr = raster.reshape((h, w, ch)) if ch == 3 else raster.reshape((h, w))
    return arr.astype("float64") / float(maxval)


def _decode_pnm_features(payload: bytes, dim: int) -> np.ndarray:
    """PNM builtin kernel: decode → grayscale → dim×dim area resample →
    per-column mean intensity (the same feature contract as the PIL
    path, minus PIL's exact resize filter)."""
    arr = _parse_pnm(payload)
    gray = arr.mean(axis=2) if arr.ndim == 3 else arr
    small = _area_resample_axis(_area_resample_axis(gray, dim, 0), dim, 1)
    return small.mean(axis=0)


@lru_cache(maxsize=1)
def _g711_mulaw_table() -> np.ndarray:
    """ITU-T G.711 µ-law byte → linear sample table (±32124 range)."""
    out = np.empty(256, dtype="i4")
    for b in range(256):
        u = ~b & 0xFF
        exponent = (u >> 4) & 0x07
        mantissa = u & 0x0F
        t = (((mantissa << 3) + 0x84) << exponent) - 0x84
        out[b] = -t if u & 0x80 else t
    return out


@lru_cache(maxsize=1)
def _g711_alaw_table() -> np.ndarray:
    """ITU-T G.711 A-law byte → linear sample table (±32256 range)."""
    out = np.empty(256, dtype="i4")
    for b in range(256):
        a = b ^ 0x55
        seg = (a & 0x70) >> 4
        t = (a & 0x0F) << 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        out[b] = t if a & 0x80 else -t
    return out


def _parse_wav_riff(payload: bytes) -> tuple[np.ndarray, int]:
    """Manual RIFF walk for WAVE payloads the stdlib ``wave`` module
    rejects: IEEE float (format 3), A-law (6), µ-law (7), and
    WAVE_FORMAT_EXTENSIBLE (0xFFFE, resolved via the SubFormat GUID's
    leading format tag). Returns (normalized float64 samples, nch)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    fmt = data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, nch, _rate, _br, _ba, bits = struct.unpack("<HHIIHH", fmt[:16])
    if tag == 0xFFFE and len(fmt) >= 26:
        (tag,) = struct.unpack("<H", fmt[24:26])
    if tag == 7:  # G.711 µ-law
        x = (
            _g711_mulaw_table()[np.frombuffer(data, dtype="u1")].astype(
                "float64"
            )
            / 32768.0
        )
    elif tag == 6:  # G.711 A-law
        x = (
            _g711_alaw_table()[np.frombuffer(data, dtype="u1")].astype(
                "float64"
            )
            / 32768.0
        )
    elif tag == 3 and bits == 32:
        x = np.frombuffer(data, dtype="<f4").astype("float64")
    elif tag == 3 and bits == 64:
        x = np.frombuffer(data, dtype="<f8").astype("float64")
    elif tag == 1:
        return _wav_pcm_samples(data, bits // 8), nch
    else:
        raise ValueError(f"unsupported WAV format tag {tag} ({bits}-bit)")
    return x, nch


def _wav_pcm_samples(raw: bytes, sw: int) -> np.ndarray:
    if sw == 2:
        return np.frombuffer(raw, dtype="<i2").astype("float64") / 32768.0
    if sw == 1:  # 8-bit WAV is unsigned
        return (
            np.frombuffer(raw, dtype="u1").astype("float64") - 128.0
        ) / 128.0
    if sw == 4:
        return (
            np.frombuffer(raw, dtype="<i4").astype("float64") / 2147483648.0
        )
    raise ValueError(f"unsupported WAV sample width {sw}")


def _audio_rms_features(x: np.ndarray, dim: int) -> np.ndarray:
    """The audio feature contract: ``dim`` contiguous blocks of the
    mono sample stream, per-block RMS energy in [0, 1]."""
    if len(x) == 0:
        return np.zeros(dim)
    blocks = np.array_split(x, dim)
    return np.array(
        [float(np.sqrt(np.mean(b * b))) if len(b) else 0.0 for b in blocks]
    )


def _decode_wav_features(payload: bytes, dim: int) -> np.ndarray:
    """WAV builtin kernel (stdlib ``wave`` + numpy): mono-mix, split the
    sample stream into ``dim`` contiguous blocks, per-block RMS energy
    in [0,1] — the audio analogue of the image column-mean feature.
    PCM decodes through the stdlib module; formats it rejects (IEEE
    float, G.711 µ-law/A-law — the telephony-corpus formats) go
    through the manual RIFF walk."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            nch, sw = w.getnchannels(), w.getsampwidth()
            raw = w.readframes(w.getnframes())
        x = _wav_pcm_samples(raw, sw)
    except wave.Error:
        x, nch = _parse_wav_riff(payload)
    if nch > 1:
        x = x[: (len(x) // nch) * nch].reshape(-1, nch).mean(axis=1)
    return _audio_rms_features(x, dim)


def decode_real(payload: bytes, kind: str = "image", dim: int = 8) -> np.ndarray:
    """Real decode+featurize kernel: library path where installed,
    builtin (stdlib/numpy) path where the payload's format allows.

    Image: PIL (any format) → grayscale → dim×dim → per-column mean
    intensity in [0,1]; without PIL, binary PNM (P5/P6) decodes via a
    pure-numpy builtin with the same feature contract. Audio: WAV
    (PCM/float/G.711) decodes builtin into the per-block RMS contract.
    Raises
    :class:`MissingMediaLibrary` when neither a library nor a builtin
    can handle the payload, :class:`NotImplementedError` when the
    kind's library is present but no kernel is written for it.
    """
    caps = media_capabilities()
    builtin = _sniff_builtin(payload, kind)
    if kind == "image" and caps["image"]:  # pragma: no cover - no PIL here
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload)).convert("L").resize((dim, dim))
        arr = np.asarray(img, dtype="float64") / 255.0
        return arr.mean(axis=0)
    if builtin is not None:
        import wave

        kernel = {
            "pnm": _decode_pnm_features,
            "wav": _decode_wav_features,
        }[builtin]
        try:
            return kernel(payload, dim)
        except (
            IndexError,  # truncated payload: slicing past the end
            EOFError,
            OverflowError,
            struct.error,  # truncated fixed-width header fields
            wave.Error,  # malformed WAV container
        ) as e:
            # corrupt members are a fact of any crawl corpus — surface
            # them uniformly as ValueError so fake=False stays loud and
            # auto mode degrades per row instead of killing the batch
            raise ValueError(f"corrupt {builtin} payload: {e}") from e
    if caps.get(kind, False):
        raise NotImplementedError(
            f"kind={kind!r}: library installed but no real kernel written "
            "yet; pass fake=None to degrade to the deterministic fake"
        )
    raise MissingMediaLibrary(
        f"no decoder available for kind={kind!r} (capabilities={caps}, "
        "payload matches no builtin format); install PIL/soundfile/av on "
        "the cluster image, or pass fake=None to degrade to the "
        "deterministic fake kernel"
    )


def _decode_dispatch(
    payload: bytes, kind: str, fake: bool | None, dim: int
) -> np.ndarray:
    """fake=True → fake kernel; fake=False → real kernel (raise if the
    library is missing or the kind's kernel is unwritten); fake=None →
    real where a library-general kernel exists AND its library is
    present, or where the payload magic matches a builtin kernel —
    else fake. In auto mode a sniffed payload whose decode then FAILS
    (truncated file, profile outside the builtin kernel — e.g.
    16-bit PNM or ADPCM WAV) also degrades to the fake: a crawl corpus
    always contains malformed members and one must never kill the batch.
    fake=False propagates the decode error — that mode exists to make
    failures loud."""
    if fake is True:
        return _fake_decode(payload, dim)
    if fake is None and not (
        (kind in REAL_KERNEL_KINDS and media_capabilities().get(kind, False))
        or _sniff_builtin(payload, kind)
    ):
        return _fake_decode(payload, dim)
    if fake is None:
        try:
            return decode_real(payload, kind, dim)
        except (ValueError, NotImplementedError):
            return _fake_decode(payload, dim)
    return decode_real(payload, kind, dim)


def extract_features(
    df: DataFrame, fake: bool | None = True, dim: int = 8
) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow-batched: each pandas batch holds ``spark.sql.execution.arrow.
    maxRecordsPerBatch`` rows; payload bytes never pass through Python
    row-at-a-time.
    """
    ensure_worker_imports(df.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_dispatch(p, k, fake, dim).tolist()
                if p is not None
                else None
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) if p is not None else None for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_images(
    df: DataFrame, target_w: int, target_h: int, fake: bool | None = True
) -> DataFrame:
    """mapInPandas image resize over binary payloads.

    The real kernel (PIL ``Image.resize``) sits behind the same
    capability probe as decode; the fake path produces a deterministic
    payload of exactly target_w × target_h bytes (md5-keystream of the
    original), so the Spark-side contract — binary in/binary out,
    metadata rewritten to the target dimensions, non-images passed
    through untouched — is fully testable without image libraries.
    """
    ensure_worker_imports(df.sparkSession)

    def _fake_resize(payload: bytes) -> bytes:
        need = target_w * target_h
        out = bytearray()
        counter = 0
        seed = hashlib.md5(payload).digest()
        while len(out) < need:
            out.extend(hashlib.md5(seed + counter.to_bytes(4, "little")).digest())
            counter += 1
        return bytes(out[:need])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            is_img = pdf["kind"] == "image"
            payloads = []
            use_fake = fake is True or (
                fake is None and not media_capabilities()["image"]
            )
            for p, img in zip(pdf["payload"], is_img):
                if not img or p is None:
                    payloads.append(p)
                elif use_fake:
                    payloads.append(_fake_resize(bytes(p)))
                else:  # pragma: no cover - needs PIL
                    if not media_capabilities()["image"]:
                        raise MissingMediaLibrary("image resize needs PIL")
                    from io import BytesIO

                    from PIL import Image

                    img_obj = Image.open(BytesIO(bytes(p)))
                    buf = BytesIO()
                    img_obj.resize((target_w, target_h)).save(
                        buf, format=img_obj.format or "PNG"
                    )
                    payloads.append(buf.getvalue())
            pdf = pdf.copy()
            pdf["payload"] = payloads
            pdf.loc[is_img, "width"] = target_w
            pdf.loc[is_img, "height"] = target_h
            yield pdf

    return df.mapInPandas(run, schema=df.schema)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per (media, frame_ts).

    The expensive decode is deferred — this only expands the work list
    (sequence+explode, JVM-side), so the decode stage is evenly
    partitionable by frame rather than by video.
    """
    return (
        df.filter(F.col("kind") == "video")
        .withColumn(
            "frame_ms",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ),
        )
        .select("media_id", "format", "frame_ms", "payload")
    )


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic in-memory media table for tests (no external libs)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.md5(f"media{i}".encode()).digest() * (i % 5 + 1)
        rows.append(
            (
                i,
                kind,
                {"image": "png", "audio": "wav", "video": "mp4"}[kind],
                64 + i if kind == "image" else None,
                48 + i if kind == "image" else None,
                1000 * (i % 7 + 1) if kind != "image" else None,
                bytearray(payload),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
