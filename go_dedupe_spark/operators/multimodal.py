"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed via mapInPandas.

The decode step is a seam: ``fake=True`` (the tested default in this
container, which has no image/audio libs) derives deterministic
"pixels" from the sha256 of the bytes; ``fake=False`` try-imports PIL
and runs a real grayscale-resize decode through the SAME mapInPandas
plumbing (raising a clear NotImplementedError when PIL is absent).
Everything Spark-side — schema, partition sizing, Arrow batch shape,
UDF signatures — is identical on both paths and tested.

Reference ancestor: the image-embedding path of the Embedder interface
(embeddings/embedder.go:16-25; ImageEmbeddings — ollama returns
NotImplemented too, embeddings/ollama_test.go:24-33). We keep the same
contract: media in, fixed-width feature vector out.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("kind", StringType()),        # image | audio | video
    StructField("media", BinaryType()),       # opaque binary payload
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("kind", StringType()),
    StructField("n_bytes", IntegerType()),
    StructField("sha256", StringType()),
    StructField("features", ArrayType(FloatType())),
    # canonical scalar form of ``features`` for oracle/hash comparison:
    # array columns are unhashable in pandas-based canonicalizers, and
    # float32 round-trips diverge from float64 at 6 decimals for 3 of
    # the 256 byte values — so the csv is formatted from the float64
    # values BEFORE the float32 downcast.
    StructField("features_csv", StringType()),
])

FEATURE_DIM = 16

# Fail at import, not per-task at decode time inside a distributed job
# (ADVICE r5): the PIL path resizes to a sqrt(dim) x sqrt(dim) grid, so
# a non-square FEATURE_DIM is a misconfiguration that should surface
# before a job launches. The in-UDF raise in ``_pil_decode_f64`` stays
# as the backstop for values monkeypatched after import.
if int(FEATURE_DIM ** 0.5) ** 2 != FEATURE_DIM:
    raise ValueError(
        f"FEATURE_DIM={FEATURE_DIM} must be a perfect square: the PIL "
        f"decode path produces sqrt(dim) x sqrt(dim) luminance grids")


def _fake_decode_f64(payload: bytes) -> np.ndarray:
    """Deterministic fake 'decode': features from the payload digest,
    in float64. Stands in for PIL.decode/resize/feature-extract."""
    d = hashlib.sha256(payload).digest()
    return np.frombuffer(d[:FEATURE_DIM], dtype=np.uint8) / 255.0


def canonical_csv(feats_f64: np.ndarray) -> str:
    """Cross-engine-stable string form: '%.6f' of each float64 feature
    (DuckDB printf('%.6f', x) produces the identical string)."""
    return ",".join(f"{float(x):.6f}" for x in feats_f64)


def _as_bytes(p) -> bytes:
    if isinstance(p, bytes):
        return p
    if isinstance(p, (bytearray, memoryview)):
        return bytes(p)
    return str(p).encode()


def _pil_decode_f64(payload: bytes) -> np.ndarray:
    """Real decode path: PIL open -> grayscale -> 4x4 resize -> 16
    luminance features in [0, 1] (float64). Deterministic: nearest-
    neighbor resampling has no platform-dependent filtering."""
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(payload)).convert("L")
    side = int(FEATURE_DIM ** 0.5)
    # the real path resizes to a side x side grid, so it only exists
    # for square FEATURE_DIMs — fail loudly rather than silently
    # returning a wrong-length vector while the fake path keeps
    # emitting FEATURE_DIM values (ADVICE r4)
    if side * side != FEATURE_DIM:      # not assert: -O must not strip it
        raise ValueError(
            f"FEATURE_DIM={FEATURE_DIM} is not a perfect square; the PIL "
            f"decode path cannot produce it")
    small = img.resize((side, side), resample=Image.NEAREST)
    return np.asarray(small, dtype=np.float64).reshape(-1) / 255.0


def decode_image_batch(payloads, fake: bool = False) -> list[np.ndarray]:
    """The decode seam (float64 features, length FEATURE_DIM).

    ``fake=True`` (the tested default everywhere in this container) is
    the deterministic sha256-derived stand-in. With ``fake=False`` the
    REAL decoder runs via PIL when importable (try-import — the same
    mapInPandas plumbing, schema and batch shape either way), and
    raises a clear NotImplementedError when PIL is absent."""
    if not fake:
        try:
            import PIL  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "real image decode requires PIL — not in this container; "
                "pass fake=True for the deterministic stand-in"
            ) from exc
        return [_pil_decode_f64(_as_bytes(p)) for p in payloads]
    return [_fake_decode_f64(_as_bytes(p)) for p in payloads]


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """media(media_id, kind, media, ...) -> FEATURE_SCHEMA rows via
    mapInPandas (Arrow batches; one numpy pass per batch)."""
    # construction-time guard: catches a FEATURE_DIM monkeypatched
    # AFTER import, so the real-decode path still fails on the driver
    # before any task is scheduled (the import-time check above covers
    # the edited-constant case; the in-UDF raise is the last backstop)
    if not fake and int(FEATURE_DIM ** 0.5) ** 2 != FEATURE_DIM:
        raise ValueError(
            f"FEATURE_DIM={FEATURE_DIM} is not a perfect square; the "
            f"PIL decode path cannot produce it")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [_as_bytes(p) for p in pdf["media"]]
            feats = decode_image_batch(raw, fake=fake)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [len(r) for r in raw],
                "sha256": [hashlib.sha256(r).hexdigest() for r in raw],
                "features": [f.astype("float32").tolist() for f in feats],
                "features_csv": [canonical_csv(f) for f in feats],
            })

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat the documents table's text as an opaque media
    payload (the testdata has no real binaries) — the UTF-8 encode
    makes the column a true BinaryType, so the whole plumbing runs the
    exact schema a real image/audio corpus would carry."""
    return docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("media"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
    )
