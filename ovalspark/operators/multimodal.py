"""Multimodal column operators — image/audio/video as opaque binary.

Design: media payloads are ``binary`` columns with a typed metadata struct
(the engine-side continuation of ``spans.media_ref``: the asset catalog
grows payload + metadata columns). All processing is Arrow-batched
``mapInPandas`` — executors stream record batches, the Python worker sees
pandas DataFrames, output schema is declared up front so Catalyst can
prune/plan around the UDF. Nothing here collects to the driver.

Codec libraries (Pillow/libav/etc.) are NOT in this container, so the
decode kernels are pluggable: the default kernel is a deterministic fake
(derives pixel/sample statistics from the bytes themselves) so the
plumbing — schema, batching, partitioning, null handling — is fully real
and tested; swapping in a real codec is replacing one pure function.
Kernels that can't run raise NotImplementedError at call time, never at
import time.

Reference analog: oval treats object bodies as opaque byte payloads with
validated structure (/root/reference/internal/pattern/pattern.go:118-134);
here the structure check is the metadata/byte-length consistency
validation and the "decode" is the feature extraction a training pipeline
bolts on top.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ASSET_MEDIA_SCHEMA = (
    "asset_id string, media_type string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int, codec:string>"
)

FEATURE_SCHEMA = (
    "asset_id string, media_type string, n_bytes long, "
    "mean_byte double, byte_entropy double, feature array<float>"
)

THUMB_SCHEMA = "asset_id string, width int, height int, thumb binary, status string"

FRAME_SCHEMA = "asset_id string, frame_idx int, frame binary"


def generate_media_assets(spark: SparkSession, n_assets: int, seed: int = 42, payload_len: int = 4096) -> DataFrame:
    """Deterministic opaque binary payloads + typed metadata for testing
    the multimodal plumbing (no codec libs needed): payload bytes are a
    hash-seeded pseudo-random stream, metadata is hash-derived."""
    a = spark.range(0, n_assets)
    media_type = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(3)) + 1).cast("int"),
    )
    # payload: concat of 16-byte md5 blocks — deterministic opaque bytes
    n_blocks = payload_len // 16
    payload = F.call_function(
        "concat",
        *[F.unhex(F.md5(F.concat_ws(":", F.col("id"), F.lit(seed), F.lit(b)))) for b in range(n_blocks)],
    )
    meta = F.struct(
        (64 + F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(512))).cast("int").alias("width"),
        (64 + F.pmod(F.xxhash64("id", F.lit(seed + 2)), F.lit(512))).cast("int").alias("height"),
        F.when(media_type != "image", (8000 + 100 * F.pmod(F.xxhash64("id", F.lit(seed + 3)), F.lit(400))).cast("int")).alias("sample_rate"),
        F.when(media_type == "video", (1 + F.pmod(F.xxhash64("id", F.lit(seed + 4)), F.lit(240))).cast("int")).alias("n_frames"),
        F.lit("fake/v1").alias("codec"),
    )
    return a.select(
        F.format_string("asset-%06x", F.col("id")).alias("asset_id"),
        media_type.alias("media_type"),
        payload.alias("payload"),
        meta.alias("meta"),
    )


def extract_features(
    assets: DataFrame,
    dim: int = 16,
    kernel: Callable[[bytes, int], list[float]] | None = None,
) -> DataFrame:
    """Per-asset byte statistics + a feature vector via mapInPandas.

    Batch shape: the iterator yields Arrow-sized pandas chunks (default
    10k rows / spark.sql.execution.arrow.maxRecordsPerBatch); each batch
    is processed vectorized and yielded immediately — constant memory per
    task regardless of table size.

    NOTE: the default kernel is defined inside this function (not a
    module-global reference) so the closure cloudpickles BY VALUE and
    executors don't need the ovalspark package on their PYTHONPATH. A
    user-supplied ``kernel`` must be importable on executors or likewise
    self-contained."""
    if kernel is None:

        def kernel(payload: bytes, d: int) -> list[float]:
            """Deterministic stand-in for a real decoder+encoder: folds
            the bytes into a fixed-dim float vector. A real kernel (e.g.
            PIL decode + CNN embedding) keeps the same contract: bytes
            in, float vector out."""
            import numpy as np

            if not payload:
                return [0.0] * d
            arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
            pad = (-len(arr)) % d
            if pad:
                arr = np.concatenate([arr, np.zeros(pad)])
            folded = arr.reshape(-1, d).mean(axis=0)
            return ((folded - 127.5) / 127.5).astype("float32").tolist()

    k = kernel

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {
                "asset_id": pdf["asset_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["payload"].map(lambda b: len(b) if b is not None else 0).astype("int64"),
            }
            means, ents, feats = [], [], []
            for b in pdf["payload"]:
                if b is None or len(b) == 0:
                    means.append(0.0)
                    ents.append(0.0)
                    feats.append([0.0] * dim)
                    continue
                arr = np.frombuffer(b, dtype=np.uint8)
                counts = np.bincount(arr, minlength=256).astype(np.float64)
                p = counts[counts > 0] / len(arr)
                means.append(float(arr.mean()))
                ents.append(float(-(p * np.log2(p)).sum()))
                feats.append(k(b, dim))
            out["mean_byte"] = pd.Series(means, index=pdf.index)
            out["byte_entropy"] = pd.Series(ents, index=pdf.index)
            out["feature"] = pd.Series(feats, index=pdf.index)
            yield pd.DataFrame(out)

    return assets.select("asset_id", "media_type", "payload").mapInPandas(run, FEATURE_SCHEMA)


def pillow_available() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def resize_images(assets: DataFrame, max_side: int = 64) -> DataFrame:
    """Thumbnail pipeline: decode → aspect-preserving resize → re-encode,
    streamed through mapInPandas in constant memory. The codec is an
    OPTIONAL dependency: with Pillow importable on the executors the real
    kernel runs (decode bytes, thumbnail to ``max_side``, emit PNG bytes +
    final dims); without it the kernel raises NotImplementedError
    per-batch — loud, never a silent empty result. ``pillow_available()``
    lets callers (and the skip-if-absent test) probe the driver side
    first. The guarded import lives INSIDE the closure so it evaluates on
    each executor and the closure stays self-contained (cloudpickles by
    value — the repo's UDF contract).

    Every input image-row yields exactly ONE output row: ``status`` is
    ``ok`` (thumb populated), ``empty`` (null/zero-byte payload), or
    ``undecodable:<ExceptionName>`` (decode/encode failure; width/height/
    thumb null). A corrupted asset is therefore a visible, filterable row
    — the same loud-failure convention as the validators — never a silent
    disappearance, and a count of non-ok rows is one groupBy away."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        try:
            from PIL import Image
        except ImportError as e:
            raise NotImplementedError(
                "image decode requires the optional Pillow dependency on the "
                "executors; install pillow or plug another kernel into resize_images"
            ) from e
        for pdf in batches:
            rows: dict[str, list] = {
                "asset_id": [],
                "width": [],
                "height": [],
                "thumb": [],
                "status": [],
            }

            def emit(aid, w, h, t, st):
                rows["asset_id"].append(aid)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["thumb"].append(t)
                rows["status"].append(st)

            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                if not payload:
                    emit(aid, None, None, None, "empty")
                    continue
                try:
                    img = Image.open(io.BytesIO(payload))
                    img.thumbnail((max_side, max_side))
                    buf = io.BytesIO()
                    img.save(buf, format="PNG")
                except Exception as exc:  # undecodable: surface, don't poison the batch
                    emit(aid, None, None, None, f"undecodable:{type(exc).__name__}")
                    continue
                emit(aid, img.width, img.height, buf.getvalue(), "ok")
            yield pd.DataFrame(rows) if rows["asset_id"] else pd.DataFrame(
                {
                    "asset_id": pd.Series(dtype="object"),
                    "width": pd.Series(dtype="float64"),
                    "height": pd.Series(dtype="float64"),
                    "thumb": pd.Series(dtype="object"),
                    "status": pd.Series(dtype="object"),
                }
            )

    return assets.filter(F.col("media_type") == "image").select("asset_id", "meta", "payload").mapInPandas(
        run, THUMB_SCHEMA
    )


def sample_frames(assets: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling plumbing for video: one output row per sampled
    frame. The fake kernel slices the payload deterministically (a real
    kernel would demux+decode); output is exploded rows, so downstream
    per-frame ops parallelize without array gymnastics."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {"asset_id": [], "frame_idx": [], "frame": []}
            for aid, meta, payload in zip(pdf["asset_id"], pdf["meta"], pdf["payload"]):
                n_frames = (meta["n_frames"] or 0) if meta is not None else 0
                if not payload or not n_frames:
                    continue
                step = max(len(payload) // max(n_frames, 1), 1)
                for idx in range(0, n_frames, every_n):
                    start = (idx * step) % max(len(payload) - 16, 1)
                    rows["asset_id"].append(aid)
                    rows["frame_idx"].append(idx)
                    rows["frame"].append(bytes(payload[start : start + 16]))
            yield pd.DataFrame(rows) if rows["asset_id"] else pd.DataFrame(
                {"asset_id": pd.Series(dtype="object"), "frame_idx": pd.Series(dtype="int64"), "frame": pd.Series(dtype="object")}
            )

    return assets.filter(F.col("media_type") == "video").select("asset_id", "meta", "payload").mapInPandas(
        run, FRAME_SCHEMA
    )


def check_media_metadata(assets: DataFrame) -> DataFrame:
    """Metadata/payload consistency validation (the multimodal analog of
    the span size check): payload present and non-empty, image/video has
    dimensions, audio/video has a sample rate, video has frames. Pure
    column predicates — one codegen'd pass."""
    checks = [
        ("payload", (F.col("payload").isNull()) | (F.length("payload") == 0), F.lit("non-empty payload")),
        ("dimensions", (F.col("media_type").isin("image", "video")) & (F.col("meta.width").isNull() | F.col("meta.height").isNull()), F.lit("width+height")),
        ("sample_rate", (F.col("media_type").isin("audio", "video")) & F.col("meta.sample_rate").isNull(), F.lit("sample_rate")),
        ("n_frames", (F.col("media_type") == "video") & F.col("meta.n_frames").isNull(), F.lit("n_frames")),
    ]
    viols = F.filter(
        F.array(
            *[
                F.when(cond, F.struct(F.lit(field).alias("field"), expected.alias("expected")))
                for field, cond, expected in checks
            ]
        ),
        lambda c: c.isNotNull(),
    )
    return (
        assets.select("asset_id", "media_type", viols.alias("v"))
        .filter(F.size("v") > 0)
        .select("asset_id", "media_type", F.explode("v").alias("v"))
        .select(
            "asset_id",
            "media_type",
            F.col("v.field").alias("field"),
            F.col("v.expected").alias("expected"),
            F.lit("MEDIA_META_INVALID").alias("violation_class"),
        )
    )
