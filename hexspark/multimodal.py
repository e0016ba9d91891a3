"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages.  The codec seam is an import PROBE
(:func:`_probe_codecs`): when Pillow/opencv is installed the real
decode/resize kernels run; in this container neither is available, so
the deterministic stub kernels run instead — the Spark-side plumbing
(schema, batch shape, partitioning, UDF signature) is identical and
tested either way.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, StringType,
    StructField, StructType,
)

def _probe_codecs() -> "str | None":
    """Import-probe for a real image codec: PIL preferred, cv2 next.
    Neither ships in this sandbox, so the probe resolves to None here
    and every operator runs the deterministic stub kernels — but on a
    cluster image with Pillow/opencv installed the same module wires
    the real decode/resize paths with zero edits.

    The probe runs on the DRIVER at plan time; the chosen codec name
    is shipped in the task closure and the library is imported again
    inside each executor's kernel call — so a cluster whose executors
    lack the driver's codec fails per-task with ImportError.  Install
    the codec in the cluster image (the standard requirement for any
    Python dep used in UDFs), or pass ``codec=None`` to force the
    stub everywhere."""
    try:
        import PIL.Image  # noqa: F401
        return "pil"
    except Exception:
        pass
    try:
        import cv2  # noqa: F401
        return "cv2"
    except Exception:
        return None


CODEC = _probe_codecs()
HAS_CODECS = CODEC is not None

MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("kind", StringType(), False),       # image | audio | video
    StructField("payload", BinaryType(), False),     # opaque encoded bytes
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("feature", ArrayType(FloatType()), False),
    StructField("n_bytes", IntegerType(), False),
])


def synth_media(docs: DataFrame, kind: str = "image") -> DataFrame:
    """Deterministic fake media: payload = the doc text bytes tagged
    with a header; metadata derived from doc stats."""
    return docs.select(
        F.concat(F.lit(f"{kind}-"), F.col("doc_id").cast("string")).alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.concat(F.lit("FAKE0"), F.col("text")), "UTF-8").alias("payload"),
        (F.col("n_chars") % 1024 + 16).cast("int").alias("width"),
        (F.col("n_chars") % 768 + 16).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )


def _splitmix64(z: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain mixing constants);
    uint64 arithmetic wraps, which is the intended modular behavior."""
    z = (z + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _seed_batch(payloads: list) -> np.ndarray:
    """Per-payload 64-bit seeds over a WHOLE batch with zero per-row
    Python computation: one C-level byte concat, then a *segmented*
    wrapping polynomial hash — per-byte terms ``(b+1)·P^pos`` (FNV-prime
    powers via ``cumprod``) reduced per payload by ``np.add.reduceat``,
    finally mixed with the payload length through splitmix64."""
    n = len(payloads)
    lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=n)
    data = np.frombuffer(
        b"".join(bytes(p) for p in payloads), dtype=np.uint8
    ).astype(np.uint64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    h = np.zeros(n, dtype=np.uint64)
    if len(data):
        pos = np.arange(len(data), dtype=np.int64) - np.repeat(starts, lens)
        pw = np.empty(int(lens.max()) + 1, dtype=np.uint64)
        pw[0] = 1
        np.cumprod(np.full(int(lens.max()), 0x100000001B3, dtype=np.uint64), out=pw[1:])
        terms = (data + np.uint64(1)) * pw[pos]
        # reduceat over NON-EMPTY segments only: their starts are
        # strictly increasing and in range, and consecutive non-empty
        # starts are exact segment boundaries (empties contribute no
        # bytes).  Clipping empty starts instead would steal the final
        # byte term from the payload preceding a trailing empty one.
        nonempty = lens > 0
        h[nonempty] = np.add.reduceat(terms, starts[nonempty])
    return _splitmix64(h ^ _splitmix64(lens.astype(np.uint64)))


def _decode_real_batch(payloads: list, dim: int, codec: str) -> np.ndarray:
    """Real decode→featurize kernel (runs when PIL/cv2 is installed):
    decode each payload to a grayscale plane, feature = the
    ``dim``-bin normalized intensity histogram.  Per-image decode is
    inherently per-item (codecs are), but stays inside one Arrow batch
    with numpy post-processing — the same batch shape as the stub."""
    import io

    feats = np.zeros((len(payloads), dim), dtype=np.float32)
    for i, p in enumerate(payloads):
        if codec == "pil":
            from PIL import Image

            img = np.asarray(
                Image.open(io.BytesIO(bytes(p))).convert("L"), dtype=np.float32
            )
        elif codec == "cv2":
            import cv2

            img = cv2.imdecode(
                np.frombuffer(bytes(p), np.uint8), cv2.IMREAD_GRAYSCALE
            )
            if img is None:
                raise ValueError(f"cv2 could not decode payload {i}")
            img = img.astype(np.float32)
        else:
            raise ValueError(f"unknown codec {codec!r}")
        hist, _ = np.histogram(img, bins=dim, range=(0.0, 256.0))
        feats[i] = hist.astype(np.float32) / max(img.size, 1)
    return feats


def _decode_batch(payloads: list, dim: int, codec: "str | None") -> np.ndarray:
    """Dispatch: real codec kernel when one is installed (``codec`` =
    'pil'/'cv2'), deterministic stub otherwise (``codec`` = None)."""
    if codec is not None:
        return _decode_real_batch(payloads, dim, codec)
    return _decode_stub_batch(payloads, dim)


def _decode_stub_batch(payloads: list, dim: int) -> np.ndarray:
    """Deterministic fake decoder over a WHOLE Arrow batch: vectorized
    segmented payload hash (:func:`_seed_batch`) seeds a vectorized
    counter-mode expansion — one numpy pass produces the (n_rows × dim)
    feature matrix, no per-row Python anywhere.  The real-codec path is
    :func:`_decode_real_batch` — same per-batch shape."""
    if not payloads:
        return np.empty((0, dim), dtype=np.float32)
    seeds = _seed_batch(payloads)
    ctr = seeds[:, None] + np.arange(1, dim + 1, dtype=np.uint64)[None, :]
    z = _splitmix64(ctr)
    u = (z >> np.uint64(11)).astype(np.float64) * 2.0 ** -53  # [0, 1)
    return (2.0 * u - 1.0).astype(np.float32)


def extract_features(
    media: DataFrame, dim: int = 16, codec: "str | None" = "auto"
) -> DataFrame:
    """Arrow-batched decode→featurize: ``mapInPandas`` so each Python
    worker sees whole record batches; payload bytes never pass through
    per-row Python call overhead, and the feature kernel itself is one
    vectorized numpy pass per batch.

    ``codec='auto'`` resolves to the probed real codec (PIL/cv2) when
    installed, else the deterministic stub; pass ``None`` to force the
    stub (e.g. for synthetic media whose payloads aren't real images)."""
    resolved = CODEC if codec == "auto" else codec

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = _decode_batch(list(pdf["payload"]), dim, resolved)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "feature": list(feats),
                "n_bytes": pdf["payload"].map(len).astype("int32"),
            })

    # manual pruning: Catalyst can't prune through the UDF schema, and
    # width/height/duration would ride the Arrow channel for nothing
    return media.select("media_id", "kind", "payload").mapInPandas(
        fn, schema=FEATURE_SCHEMA
    )


def dd_media_features(kind: str = "image") -> str:
    """DuckDB oracle for the SQL-portable columns of
    ``extract_features(synth_media(documents))``: identity, kind, and
    payload byte length ('FAKE0' header + UTF-8 text bytes).  The
    feature vector itself is the stub codec's output — covered by the
    Spark-side determinism test instead (tests/test_text_dedup.py)."""
    return f"""
        SELECT '{kind}-' || CAST(doc_id AS VARCHAR) AS media_id,
               '{kind}' AS kind,
               CAST(5 + octet_length(encode(text)) AS INTEGER) AS n_bytes
        FROM documents
    """


def _resize_real_batch(
    payloads: list, width: int, height: int, codec: str
) -> list:
    """Real resample kernel (runs when PIL/cv2 is installed): decode →
    resize → emit the grayscale ``width × height`` byte plane — the
    same output contract as the stub (one channel, w·h bytes)."""
    import io

    out = []
    for i, p in enumerate(payloads):
        if codec == "pil":
            from PIL import Image

            img = Image.open(io.BytesIO(bytes(p))).convert("L").resize((width, height))
            out.append(np.asarray(img, dtype=np.uint8).tobytes())
        elif codec == "cv2":
            import cv2

            img = cv2.imdecode(np.frombuffer(bytes(p), np.uint8), cv2.IMREAD_GRAYSCALE)
            if img is None:
                raise ValueError(f"cv2 could not decode payload {i}")
            out.append(
                cv2.resize(img, (width, height)).astype(np.uint8).tobytes()
            )
        else:
            raise ValueError(f"unknown codec {codec!r}")
    return out


def _resize_batch(
    payloads: list, width: int, height: int, codec: "str | None"
) -> list:
    """Dispatch: real resampler when a codec is installed, stub else."""
    if codec is not None:
        return _resize_real_batch(payloads, width, height, codec)
    return _resize_stub_batch(payloads, width, height)


def _resize_stub_batch(payloads: list, width: int, height: int) -> list:
    """Deterministic fake resize kernel over a WHOLE batch: emits a
    ``width × height`` single-channel byte plane expanded from the
    payload's seed (same vectorized counter-mode hash as the decode
    stub).  The real-resampler path is :func:`_resize_real_batch` —
    same per-batch signature."""
    if not payloads:
        return []
    n = width * height
    seeds = _seed_batch(payloads)
    ctr = seeds[:, None] + np.arange(1, n + 1, dtype=np.uint64)[None, :]
    planes = (_splitmix64(ctr) & np.uint64(0xFF)).astype(np.uint8)
    return [planes[i].tobytes() for i in range(len(payloads))]


def resize_media(
    media: DataFrame, width: int, height: int, codec: "str | None" = "auto"
) -> DataFrame:
    """Image-resize plumbing: Arrow-batched ``mapInPandas`` through the
    resample kernel; output keeps the MEDIA_SCHEMA shape with the new
    dimensions and the resized payload (``width·height`` bytes — one
    channel), so downstream stages see a normal media table.  Metadata
    update is exact; the pixel kernel is the real resampler when
    PIL/cv2 is installed (``codec='auto'``) and the deterministic fake
    otherwise (or when ``codec=None`` forces the stub)."""
    resolved = CODEC if codec == "auto" else codec

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "payload": _resize_batch(list(pdf["payload"]), width, height, resolved),
                "width": np.full(len(pdf), width, dtype=np.int32),
                "height": np.full(len(pdf), height, dtype=np.int32),
                "duration_ms": pdf["duration_ms"],
            })

    # manual pruning (CLAUDE.md rule): the old width/height are
    # overwritten with literals, so don't ship them through Arrow
    return media.select("media_id", "kind", "payload", "duration_ms").mapInPandas(
        fn, schema=MEDIA_SCHEMA
    )


def dd_media_resize(width: int, height: int, kind: str = "image") -> str:
    """DuckDB oracle for the SQL-portable columns of
    ``resize_media(synth_media(documents), w, h)``: identity, kind, the
    new dimensions, and the resized payload size (w·h one-channel
    bytes).  The pixel plane itself is stub output — covered by the
    Spark-side determinism test."""
    return f"""
        SELECT '{kind}-' || CAST(doc_id AS VARCHAR) AS media_id,
               '{kind}' AS kind,
               CAST({width} AS INTEGER) AS width,
               CAST({height} AS INTEGER) AS height,
               CAST({width * height} AS INTEGER) AS n_bytes
        FROM documents
    """


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling plumbing: one output row per sampled frame
    timestamp (payload decode stubbed; timestamps computed natively)."""
    with_dur = media.filter(F.col("duration_ms").isNotNull())
    ts = F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
    return with_dur.select(
        "media_id", F.explode(ts).alias("frame_ms"), "payload"
    )
