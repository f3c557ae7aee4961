"""Multimodal column plumbing: opaque binary payloads + typed metadata.

North-star operator class (SURVEY.md §2.3): treat image/audio/video as opaque
``binary`` columns with typed metadata, with decode / feature-extraction /
resize / frame-sample as Arrow-batched Pandas UDFs over ``mapInPandas``.

The container has no image/audio libraries and the testdata has no real media,
so per the driver contract the *decode* step is a clearly-marked deterministic
stub (``FAKE_DECODE``) — but the Spark-side plumbing is real and tested:
binary column handling, schema declaration, ``mapInPandas`` batch iteration,
and partition-preserving feature extraction. Swapping ``_fake_decode`` for a
real ``PIL.Image.open`` is the only change needed when the codec libs exist.

Scale posture: media blobs dominate bytes at 100 TB — feature extraction is a
narrow map (no shuffle), Arrow-batched, with the blob column pruned away
immediately after decode so downstream stages carry only features.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.sources import load_table

# Marker: the decode stage is a deterministic fake (no codec libs in env).
FAKE_DECODE = True

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, width int, height int, channels int, "
    "sha_prefix string"
)


def with_blob(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary payload column (UTF-8 bytes of `text` stand in
    for real media bytes; schema-wise this is exactly an image column).

    Deliberately NOT cached/shared across queries: it is a narrow projection
    (one encode per row, fused into the scan), and pinning blob columns in
    executor memory is exactly the anti-pattern a 100 TB media corpus cannot
    afford — each query re-derives blobs in its own scan and prunes them
    immediately after its Python stage."""
    return docs.withColumn("blob", F.encode(F.col("text"), "UTF-8"))


def _fake_decode(blob: bytes) -> tuple[int, int, int]:
    """STUB decode: derive deterministic (width, height, channels) from a
    sha256 of the payload. Replace with a real decoder when codec libs exist.
    Raises on empty payload like a real decoder would."""
    if not blob:
        raise ValueError("empty payload")
    h = hashlib.sha256(blob).digest()
    return 16 + h[0] % 240, 16 + h[1] % 240, 1 + h[2] % 3


def decode_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, blob) batches -> feature rows.

    Arrow-batched, one pass, no shuffle; the blob column is dropped on yield.
    """
    for pdf in batches:
        blobs = pdf["blob"]
        dims = [_fake_decode(b) for b in blobs]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(b) for b in blobs],
                "width": [d[0] for d in dims],
                "height": [d[1] for d in dims],
                "channels": [d[2] for d in dims],
                "sha_prefix": [hashlib.sha256(b).hexdigest()[:8] for b in blobs],
            }
        )


def extract_features(docs: DataFrame) -> DataFrame:
    """The full multimodal plumbing: attach blob -> prune to (id, blob) ->
    Arrow-batched decode -> typed feature frame."""
    return with_blob(docs).select("doc_id", "blob").mapInPandas(
        decode_features, schema=FEATURE_SCHEMA
    )


def frame_sample(docs: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' stand-in: one row per sampled offset of each payload —
    the video-frame-sampling plumbing (explode over a computed index range),
    all JVM-side."""
    blobs = with_blob(docs).select("doc_id", "blob", F.octet_length("blob").alias("nb"))
    last_idx = F.greatest(F.expr(f"(nb - 1) div {every_n_bytes}"), F.lit(0).cast("long"))
    return blobs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), last_idx)).alias("frame_idx"),
    )


# --------------------------------------------------------------------------
# Oracle-checked metadata query: binary length + head bytes, built-ins only.
# --------------------------------------------------------------------------
@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           lower(hex(encode(substr(text, 1, 8)))) AS head_hex
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.lower(F.hex(F.encode(F.substring("text", 1, 8), "UTF-8"))).alias("head_hex"),
    )


# --------------------------------------------------------------------------
# Feature-extraction query through the real mapInPandas path. The stub
# decode is sha256-derived, and sha256 is engine-portable — so even the
# Python-side path gets a full value check: the oracle recomputes the same
# dims from the same digest. (With a real codec this reverts to rows-only.)
# --------------------------------------------------------------------------
@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           (16 + ('0x' || substr(sha256(text), 1, 2))::INT % 240)::INT AS width,
           (16 + ('0x' || substr(sha256(text), 3, 2))::INT % 240)::INT AS height,
           (1 + ('0x' || substr(sha256(text), 5, 2))::INT % 3)::INT AS channels,
           substr(sha256(text), 1, 8) AS sha_prefix
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_features(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Frame sampling as a registered query (oracle-checked): the video-frame
# plumbing is pure JVM (explode over a computed index range), so the index
# arithmetic gets an exact SQL twin.
# --------------------------------------------------------------------------
FRAME_STRIDE = 64


@query(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id,
           unnest(range(0, greatest((strlen(text) - 1) // {FRAME_STRIDE} + 1, 1)))
             AS frame_idx
    FROM documents
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return frame_sample(docs, every_n_bytes=FRAME_STRIDE)


# --------------------------------------------------------------------------
# Resize stub through the Arrow batch path: decode dims via the
# deterministic fake, then compute the letterboxed target size — the real
# thing swaps _fake_decode for a codec and adds the pixel op. Value-checked
# like multimodal_features (sha256-derived dims are portable).
# --------------------------------------------------------------------------
RESIZE_TARGET = 128

RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, new_width int, new_height int, "
    "scale double"
)


def resize_plan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: longest side scaled to RESIZE_TARGET, aspect kept.

    Rounding is explicit half-up (floor(x + 0.5)), not Python's banker's
    round — half-up is what SQL ROUND does, keeping the kernel portable
    across engines (and value-checkable against the DuckDB oracle)."""
    for pdf in batches:
        out = {k: [] for k in ("doc_id", "width", "height", "new_width", "new_height", "scale")}
        for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
            w, h, _ = _fake_decode(blob)
            scale = RESIZE_TARGET / max(w, h)
            out["doc_id"].append(doc_id)
            out["width"].append(w)
            out["height"].append(h)
            out["new_width"].append(max(1, int(w * scale + 0.5)))
            out["new_height"].append(max(1, int(h * scale + 0.5)))
            out["scale"].append(round(scale, 6))
        yield pd.DataFrame(out)


_SHA_BYTE = "('0x' || substr(sha256(text), {pos}, 2))::INT"
_SQL_W = f"(16 + {_SHA_BYTE.format(pos=1)} % 240)"
_SQL_H = f"(16 + {_SHA_BYTE.format(pos=3)} % 240)"


@query(
    "multimodal_resize",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_SQL_W} AS w, {_SQL_H} AS h FROM documents
    )
    SELECT doc_id,
           w::INT AS width,
           h::INT AS height,
           greatest(1, floor(w * ({RESIZE_TARGET}.0 / greatest(w, h)) + 0.5))::INT
             AS new_width,
           greatest(1, floor(h * ({RESIZE_TARGET}.0 / greatest(w, h)) + 0.5))::INT
             AS new_height,
           round({RESIZE_TARGET}.0 / greatest(w, h), 6) AS scale
    FROM d
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_blob(docs).select("doc_id", "blob").mapInPandas(
        resize_plan, schema=RESIZE_SCHEMA
    )
