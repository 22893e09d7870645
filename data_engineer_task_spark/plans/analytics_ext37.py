"""Thirty-eighth batch: the remaining multimodal operators —
frame sampling (row fan-out) and resize (binary→binary) — as
hash-gated entries, completing the family ext36 started (decode and
featurize→ANN are already gated; after this batch every multimodal
operator's Arrow plumbing is value-checked cross-engine, with only the
sanctioned codec stubs themselves outside the gate).

Both oracles re-derive the deterministic fake kernels in pure SQL over
the md5 hex string (payload byte i = hex chars 2i-1..2i, the
``multimodal_decode`` parse): a byte rotation is a hex-string rotation
by 2k chars, and payload cycling is hex repetition. The gates
therefore pin the REAL ``mapInPandas`` contracts — the one-to-many
batch fan-out of ``sample_frames`` (a batch may yield more rows than
it received) and the opaque-binary-out column of ``resize_media`` —
byte-for-byte, not just shape-wise.

Reference scope note: no media columns in the reference; brief
extension family (see operators/multimodal.py).

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import _hex_int_sql, _t_wide, q

_RESIZE_W, _RESIZE_H = 40, 40  # -> 40*40//64 = 25 bytes (non-multiple
# of the 16-byte payload, so the cycle's truncation path is exercised)


@q(
    "multimodal_frame_sample",
    f"""
    WITH h AS (SELECT doc_id AS id, md5(text) AS hx FROM documents),
    nf AS (SELECT id, hx, 1 + {_hex_int_sql("hx", 2, 31)} % 8 AS n_frames FROM h),
    -- frame at index i = payload rotated left by i bytes (i < 16 so
    -- k = i), truncated to 8 bytes = hex rotated by 2i chars, first 16
    fr AS (
      SELECT id, CAST(i AS BIGINT) AS frame_idx,
             substr(substr(hx, 2 * i + 1) || substr(hx, 1, 2 * i),
                    1, 16) AS frame_hex
      FROM nf, UNNEST(generate_series(0, n_frames - 1, 2)) AS t(i)
    )
    SELECT id, frame_idx, frame_hex FROM fr ORDER BY id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over the binary column: one media row
    fans out to one row per sampled frame (every 2nd index below the
    clip's fake-decoded frame count, 1-8 here) — the row-multiplying
    mapInPandas shape, value-checked by emitting each extracted
    frame's hex. Scale shape: map-only Arrow stage, fan-out bounded by
    n_frames/every_n per row; frames inherit the scan's partitioning
    and nothing shuffles until a consumer asks."""
    from ..operators.multimodal import sample_frames, synthesize_media_column

    docs = _t_wide(spark, sf_dir, "documents")
    media = synthesize_media_column(docs, "doc_id", "text")
    frames = sample_frames(media, "doc_id", "media", every_n=2)
    return frames.select(
        "id",
        "frame_idx",
        F.lower(F.hex("frame")).alias("frame_hex"),
    ).orderBy("id", "frame_idx")


@q(
    "multimodal_resize",
    f"""
    SELECT doc_id AS id,
           CAST({_RESIZE_W} AS BIGINT) AS width,
           CAST({_RESIZE_H} AS BIGINT) AS height,
           CAST({_RESIZE_W * _RESIZE_H // 64} AS BIGINT) AS byte_len,
           substr(md5(text) || md5(text), 1,
                  {2 * (_RESIZE_W * _RESIZE_H // 64)}) AS resized_hex
    FROM documents ORDER BY id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize over the binary column: binary in → binary out,
    one row per row (the fake kernel cycles the payload to exactly
    width*height//64 bytes, so output size tracks the target box and
    the 25-byte target exercises mid-payload truncation). The output
    stays opaque binary — chainable into decode/featurize — and the
    gate pins the exact bytes via hex. Map-only Arrow stage; payloads
    never leave their scan partition."""
    from ..operators.multimodal import resize_media, synthesize_media_column

    docs = _t_wide(spark, sf_dir, "documents")
    media = synthesize_media_column(docs, "doc_id", "text")
    resized = resize_media(
        media, "doc_id", "media", width=_RESIZE_W, height=_RESIZE_H
    )
    return resized.select(
        "id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.length("media").cast("long").alias("byte_len"),
        F.lower(F.hex("media")).alias("resized_hex"),
    ).orderBy("id")
