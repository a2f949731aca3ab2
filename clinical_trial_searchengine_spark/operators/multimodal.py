"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed in Arrow-batched kernels.

The image/audio codec libraries are not available in this container, so the
DECODE step is stubbed behind a deterministic fake (or NotImplementedError in
strict mode) — but the Spark-side plumbing is real and tested: schema,
partition-preserving mapInPandas, batch shapes, metadata structs.  Swapping
the fake for PIL/torchaudio is a one-function change on a real cluster.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)


def attach_media_stub(
    df: DataFrame, id_col: str, text_col: str, kind: str = "image"
) -> DataFrame:
    """Deterministically fabricate a binary media column from text bytes —
    stands in for reading real blobs; keeps every downstream op honest."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            (F.length(text_col) % 640 + 32).cast("int").alias("width"),
            (F.length(text_col) % 480 + 32).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            (F.length(text_col) % 300 + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """STUB for a real image decode (PIL.Image.open). Deterministic: pixels
    derived from sha256(payload). Raise instead if strict=True in callers."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "little")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (height, width, 3), dtype=np.uint8)


def extract_features(
    media: DataFrame, n_features: int = 16, strict: bool = False
) -> DataFrame:
    """decode -> feature-extract as a mapInPandas kernel (Arrow batches).

    Features here are channel-histogram moments of the (stub-)decoded image;
    on a real cluster the kernel body becomes the actual model/codec call —
    the distribution, batching, and schema do not change.
    """

    def kernel(batches):
        for pdf in batches:
            if strict:
                raise NotImplementedError(
                    "real media decode requires codec libs absent from this "
                    "container; run with strict=False for the deterministic stub"
                )
            feats = []
            # zip over raw columns, not iterrows(): decode is inherently
            # per-item (codec call on a real cluster) but the loop itself
            # shouldn't materialize a pandas Series per row
            metas = pdf["meta"].to_numpy()
            for payload, meta in zip(pdf["payload"].to_numpy(), metas):
                img = _fake_decode(
                    bytes(payload), meta["width"], meta["height"]
                )
                hist = np.histogram(img, bins=n_features, range=(0, 256))[0]
                feats.append((hist / hist.sum()).astype(np.float64).tolist())
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "features": feats}
            )

    return media.mapInPandas(kernel, "media_id long, features array<double>")


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing for video rows: one output row per kept frame
    index (posexplode over a JVM-generated sequence — no Python)."""
    return media.where(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )
