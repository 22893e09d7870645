"""Thirty-seventh batch: multimodal decode → featurize → ANN, composed
into one hash-gated entry (VERDICT r7 item 3).

Round 7 left the multimodal family value-checked only up to metadata
decode (``multimodal_decode``); the downstream steps — feature
extraction over the binary column and similarity search over the
resulting vectors — were pytest-only. ``multimodal_feature_topk``
chains the REAL operators end-to-end (synthesize binary media →
Arrow-batched ``decode_media`` → filter on the DECODED metadata →
Arrow-batched ``extract_features`` → ``cosine_topk``) and re-derives
every step in pure SQL, so the whole binary→vector→neighbors path is
cross-engine value-checked in one gate.

Reference scope note: the reference has no media columns — this family
is the brief's "operations a large-scale training-data pipeline would
need" extension (image/audio as opaque binary + typed metadata,
``/root/reference`` has no analog; see operators/multimodal.py).

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import _hex_int_sql, _t_wide, q


@q(
    "multimodal_feature_topk",
    f"""
    WITH h AS (SELECT doc_id AS id, md5(text) AS hx FROM documents),
    -- decode: first payload byte selects the fake codec's format
    -- (b0 % 4 = 3 -> 'mp4'); featurize: byte-bucket histogram over the
    -- 16 payload bytes, L1-normalized (operators/multimodal.py
    -- fake_decode / extract_features re-derived in SQL)
    feats AS (
      SELECT id,
             list_transform(generate_series(0, 7), k ->
               CAST(len(list_filter(
                 list_transform(generate_series(1, 16),
                                p -> {_hex_int_sql("hx", 2, "2 * p - 1")} % 8),
                 x -> x = k)) AS DOUBLE) / 16.0) AS v
      FROM h
      WHERE {_hex_int_sql("hx", 2)} % 4 <> 3
    ),
    base AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm FROM feats),
    qv AS (SELECT * FROM base WHERE id < 40),
    pairs AS (
      SELECT qv.id AS query_id, b.id AS neighbor_id,
             round((list_dot_product(qv.v, b.v) / (qv.nrm * b.nrm))
                   * 100000.0) / 100000.0 AS cos_sim
      FROM qv JOIN base b ON b.id <> qv.id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC NULLS LAST,
                                            neighbor_id) AS rn
      FROM pairs
    ) WHERE rn <= 3
    ORDER BY query_id, cos_sim DESC NULLS LAST, neighbor_id
    """,
)
def multimodal_feature_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media → neighbors, end-to-end: synthesize the binary column,
    decode it (Arrow mapInPandas, fake codec), keep only non-video
    media (a DECODED-metadata predicate, so the decode step is load-
    bearing for the answer, not a dead branch), featurize the kept
    payloads (byte-bucket histogram → unit-L1 ``array<double>``), and
    answer cosine top-3 for the id<40 query panel with the brute-force
    baseline scorer.

    Determinism: 16-byte payloads make every feature an exact multiple
    of 1/16 (binary-representable), so vectors are bit-identical across
    engines; cosine ties (coarse 8-dim histograms collide often) break
    on neighbor_id in both spellings.

    Scale shape: decode and featurize are map-only Arrow stages over
    the binary column; the metadata filter joins NARROW frames (id +
    8 doubles vs id) so payload bytes never shuffle — at 100 TB a
    fused decode+featurize pass would also skip featurizing the
    filtered-out quarter, but the operators stay separately-contracted
    here on purpose (each is independently swappable for a real
    codec/encoder). The scorer is the declared brute-force baseline
    (queries ride the closure; one matmul per record batch; per-query
    top-k window) — the IVF/PQ entries are the corpus-scale path."""
    from ..operators.multimodal import (
        decode_media,
        extract_features,
        synthesize_media_column,
    )
    from ..operators.similarity import cosine_topk

    docs = _t_wide(spark, sf_dir, "documents")
    media = synthesize_media_column(docs, "doc_id", "text")
    meta = decode_media(media, "doc_id", "media")
    feats = extract_features(media, "doc_id", "media", dim=8)
    kept = feats.join(
        meta.where(F.col("format") != "mp4").select("id"), "id", "left_semi"
    )
    return cosine_topk(
        kept, "id", "features", query_filter=F.col("id") < 40, k=3
    ).orderBy("query_id", F.desc_nulls_last("cos_sim"), F.asc("neighbor_id"))
