"""Fortieth batch: the CMS MIXED-depth merge path, hash-gated
cross-engine (VERDICT r9 item 3).

``cms_merge``'s r9 coverage trim (operators/sketch.py) is what keeps a
mixed-depth shard merge one-sided: cell-summing a depth-4 and a
depth-2 shard naively leaves partial-mass rows at j in {2,3} (only the
deep shard contributed), and a later min_j estimate over those rows
UNDERESTIMATES. Through r9 only the equal-depth identity path was
driver-gated (``doc_token_cms_sharded_merge``, ext38); the trim itself
had pytest coverage only. ``doc_token_cms_mixed_depth_merge`` closes
that: the Spark side really builds a depth-4 and a depth-2 shard and
folds them with ``cms_merge``, the probe follows the MERGED sketch's
own depth-row domain (``cms_estimate(depth=None)``), and the oracle
computes the trimmed min-depth grid in SQL — the covered-by-all
domain of a depth-4 and a depth-2 shard is j in {0,1}, where both
shards contribute, so the trimmed cells are exactly the full-vocab
depth-2 grid. A trim defect cannot hash-match: kept j>=2 rows would
enter the domain-following probe as partial mass and drag estimates
BELOW the oracle's.

Reference scope note: the reference has no sketches — this family is
the brief's training-data-pipeline extension (see operators/sketch.py).

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import _CMS_BUCKET, _SEG, _SEGMENT_CTE, _t_wide, q


@q(
    "doc_token_cms_mixed_depth_merge",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    -- the trimmed merge of a depth-4 and a depth-2 shard keeps only
    -- the covered-by-all rows j in {{0,1}}, where BOTH shards wrote
    -- full mass: cell-wise that is the one-shot depth-2 grid over the
    -- whole vocabulary (shard partition of the corpus sums out).
    cells AS (
      SELECT j, {_CMS_BUCKET.format(j="j", tok="token")} AS bucket, cnt
      FROM vocab CROSS JOIN (SELECT unnest([0, 1]) AS j)
    ),
    sketch AS (
      SELECT j, bucket, CAST(sum(cnt) AS BIGINT) AS c
      FROM cells GROUP BY j, bucket
    ),
    panel AS (
      SELECT token, CAST(cnt AS BIGINT) AS true_cnt
      FROM vocab ORDER BY cnt DESC, token ASC LIMIT 10 OFFSET 10
    ),
    probe AS (
      SELECT t.token, t.true_cnt, min(s.c) AS cms_est
      FROM panel t
      CROSS JOIN (SELECT unnest([0, 1]) AS j) d
      JOIN sketch s
        ON s.j = d.j
       AND s.bucket = {_CMS_BUCKET.format(j="d.j", tok="t.token")}
      GROUP BY t.token, t.true_cnt
    )
    SELECT token, true_cnt, CAST(cms_est AS BIGINT) AS cms_est
    FROM probe ORDER BY true_cnt DESC, token ASC
    """,
)
def doc_token_cms_mixed_depth_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mixed-depth CMS merge, end-to-end: shard 0 (doc_id even) builds
    a depth-4 sketch, shard 1 (doc_id odd) a depth-2 sketch, and
    ``cms_merge`` folds them — its coverage trim must keep exactly the
    j in {0,1} rows where both shards carry full mass. The probe panel
    (second frequency decile, ranks 11-20, the same defect-sensitive
    band ext38 uses) is estimated with ``cms_estimate(depth=None)``,
    which fans over the MERGED sketch's own depth-row domain: if the
    trim wrongly kept the deep shard's partial j in {2,3} rows, the
    min would pick up half-mass cells and drop below the oracle's
    trimmed-grid estimates — a value, not just shape, mismatch.

    Scale shape: identical to ``doc_token_cms_sharded_merge`` — one
    (shard, token) groupBy with map-side combine is the only
    corpus-scaling shuffle (ReuseExchange serves both shard sketches
    and the exact panel from that one exchange); merge + probe run on
    fixed-size cell frames (<= shards x depth x 256 rows, broadcast).
    At 100 TB mixed depths are the REAL rollup case: persisted
    per-partition sketch state built by different pipeline versions
    (a depth upgrade) merges to the min common depth instead of
    silently underestimating."""
    from ..operators.sketch import cms_build, cms_estimate, cms_merge

    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("sh"),
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    )
    pv = toks.groupBy("sh", "token").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    merged = cms_merge(
        cms_build(pv.where(F.col("sh") == 0), "token", depth=4, weight_col="w"),
        cms_build(pv.where(F.col("sh") == 1), "token", depth=2, weight_col="w"),
    )
    vocab = pv.groupBy("token").agg(
        F.sum("w").cast("long").alias("true_cnt")
    )
    panel = (
        vocab.orderBy(F.desc("true_cnt"), F.asc("token")).offset(10).limit(10)
    )
    return cms_estimate(merged, panel, "token", depth=None).orderBy(
        F.desc("true_cnt"), F.asc("token")
    )


@q(
    "doc_segment_dedup_incremental",
    f"""
    WITH {_SEGMENT_CTE},
    thr AS (SELECT (max(doc_id) // 5) * 4 AS t FROM documents),
    ranked AS (
      SELECT doc_id, seg_id, seg_text, seg_len,
             row_number() OVER (PARTITION BY seg_hash
                                ORDER BY doc_id, seg_id) AS rn
      FROM segh
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN rn = 1 THEN seg_len ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           md5(coalesce(string_agg(seg_text, ' ' ORDER BY seg_id)
                          FILTER (WHERE rn = 1), '')) AS rewritten_md5
    FROM ranked, thr WHERE doc_id > thr.t
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_segment_dedup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental segment dedup as a gated entry (VERDICT r9 item 8's
    optional IVM gate): the corpus splits at (max_id // 5) * 4 into an
    already-curated BASE (~80%) and a new DELTA batch; the base is
    reduced to its segment first-occurrence INDEX
    (``segment_first_index`` — the persistable bucketed state) and the
    delta is curated with ``segment_dedup_incremental`` — one
    |Δ|-sized window plus one hash join against the index, history
    never re-windowed. The oracle computes the FULL-corpus keep-first
    window and restricts output to delta docs: hash equality proves
    the incremental factorization (absent-from-index AND
    first-within-delta) is exactly the recompute, cross-engine.

    Scale shape: the recurring cost is |Δ| log |Δ| (delta window) +
    one co-located join against state bucketed by seg_hash; the index
    build is a map-side-combinable min-struct groupBy paid ONCE per
    base (and in steady state maintained append-only). This is the
    100 TB answer to the keep-best funnel's corpus-growing seg_hash
    shuffle measured in SCALING.md r9: re-curation joins, instead of
    re-windowing the corpus."""
    from ..operators.dedup import segment_dedup_incremental

    docs = _t_wide(spark, sf_dir, "documents")
    # integer `div`, not float `/`+cast: the float path loses exactness
    # past 2^53 and the oracle's `//` is integer floor division
    thr = docs.agg((F.expr("max(doc_id) div 5") * 4).alias("t"))
    with_thr = docs.crossJoin(F.broadcast(thr))
    base = with_thr.where(F.col("doc_id") <= F.col("t")).drop("t")
    delta = with_thr.where(F.col("doc_id") > F.col("t")).drop("t")
    return (
        segment_dedup_incremental(base, delta, "doc_id", "text", seg=_SEG)
        .select(
            "doc_id",
            "n_segments",
            "n_kept",
            "tokens_kept",
            F.md5("rewritten_text").alias("rewritten_md5"),
        )
        .orderBy("doc_id")
    )
