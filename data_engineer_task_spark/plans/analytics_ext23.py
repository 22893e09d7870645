"""Twenty-fourth-batch declared queries: embedding feature-health
profiling and language-ID evaluation.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - per-DIMENSION embedding profile (mean/sd/min/max per coordinate
   across the corpus — dead-dimension and scale-drift tripwires the
   per-VECTOR norm profile can't see)
 - language-ID confusion matrix (predicted vs labeled lang — the
   evaluation that turns the classifier entry into a monitored one)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import (
    _KW_SQL,
    _LANG_KEYWORDS,
    _SHINGLE_CTE,
    _STOP_SQL,
    _near_dup_tail,
    _t_wide,
    q,
)


@q(
    "embedding_dimension_profile",
    """
    WITH x AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
                  AS BIGINT) AS q
      FROM embeddings
    ),
    s AS (
      SELECT dim,
             CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(q) AS BIGINT) AS sq,
             CAST(sum(q * q) AS BIGINT) AS sqq,
             CAST(min(q) AS BIGINT) AS mn,
             CAST(max(q) AS BIGINT) AS mx
      FROM x GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, n_vecs,
           round(sq * 10000.0 / n_vecs / 1000000.0) / 10000.0 AS mean_v,
           round(sqrt(greatest((CAST(sqq AS DOUBLE)
                                - CAST(sq AS DOUBLE) * sq / n_vecs)
                               / n_vecs, 0.0))
                 / 1000000.0 * 10000.0) / 10000.0 AS sd_v,
           round(mn * 10000.0 / 1000000.0) / 10000.0 AS min_v,
           round(mx * 10000.0 / 1000000.0) / 10000.0 AS max_v
    FROM s ORDER BY dim
    """,
)
def embedding_dimension_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding health profile: mean / sd / min / max
    of every coordinate across the corpus — the monitor that catches
    dead dimensions (sd ≈ 0), scale drift between encoder versions,
    and clipped coordinates, none of which the per-vector
    `embedding_norm_profile` can see. Determinism engineering: floats
    are 1e-6-quantized IN-ROW to exact integers before any cross-row
    aggregation, so sums and sum-of-squares are exact (Σq² ≈
    4e10·rows — BIGINT-safe past 10⁶× this corpus) and the
    mean/sd derive from exact integers through identical fp ops on
    both engines. Plan: posexplode fan-out (rows × 64 — in-row), then
    ONE map-side-combinable aggregate to a |dims|-row frame; at
    100 TB this is a single pass with a 64-row shuffle."""
    emb = _t_wide(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda v: F.round(v.cast("double") * 1000000.0).cast("long"),
            )
        ).alias("dim", "q")
    )
    s = x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
        F.min("q").cast("long").alias("mn"),
        F.max("q").cast("long").alias("mx"),
    )
    # the greatest(…, 0) clamp is load-bearing: sq² exceeds 2^53 for a
    # near-constant dimension, and fp cancellation can leave the true-
    # zero variance a hair NEGATIVE — DuckDB's sqrt throws on that
    # while Spark returns NaN, so without a symmetric clamp the gate
    # crashes exactly on the dead dimensions this entry exists to find.
    sd = F.sqrt(
        F.greatest(
            (
                F.col("sqq").cast("double")
                - F.col("sq").cast("double") * F.col("sq") / F.col("n_vecs")
            )
            / F.col("n_vecs"),
            F.lit(0.0),
        )
    )
    return s.select(
        F.col("dim").cast("long").alias("dim"),
        "n_vecs",
        (F.round(F.col("sq") * 10000.0 / F.col("n_vecs") / 1000000.0) / 10000.0).alias(
            "mean_v"
        ),
        (F.round(sd / 1000000.0 * 10000.0) / 10000.0).alias("sd_v"),
        (F.round(F.col("mn") * 10000.0 / 1000000.0) / 10000.0).alias("min_v"),
        (F.round(F.col("mx") * 10000.0 / 1000000.0) / 10000.0).alias("max_v"),
    ).orderBy("dim")


@q(
    "lang_id_confusion",
    f"""
    WITH s AS (
      SELECT lang AS actual_lang,
             round((len(list_filter(string_split(text, ' '),
                                   t -> t IN {_KW_SQL["de"]}))::DOUBLE
                   / len(string_split(text, ' '))) * 10000.0) / 10000.0
               AS score_de,
             round((len(list_filter(string_split(text, ' '),
                                   t -> t IN {_KW_SQL["en"]}))::DOUBLE
                   / len(string_split(text, ' '))) * 10000.0) / 10000.0
               AS score_en
      FROM documents
    ),
    p AS (
      SELECT actual_lang,
             CASE WHEN score_de >= score_en THEN 'de' ELSE 'en' END
               AS predicted_lang
      FROM s
    )
    SELECT actual_lang, predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(count(*) * 10000.0
                 / sum(count(*)) OVER (PARTITION BY actual_lang)) / 10000.0
             AS share_of_actual
    FROM p GROUP BY actual_lang, predicted_lang
    ORDER BY actual_lang, predicted_lang
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the keyword-density language classifier
    against the labeled `lang` column — the evaluation loop that the
    `doc_language_id` entry needs before anyone trusts it in a
    curation gate (same closure pattern as `embedding_ann_recall` and
    `lsh_recall_vs_exact`: every classifier/approximation entry gets
    a measured-quality sibling). The true label rides the SAME
    projection as the scores — no join back onto the corpus, so the
    plan stays map-only into one (actual × predicted)-bounded
    aggregate; share_of_actual (row-normalized recall when actual =
    predicted) is an exact integer ratio under a display round, via a
    window over the cell frame, not the fact."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def density(kws):
        return (
            F.round(
                (
                    F.size(F.filter(toks, lambda t: t.isin(*kws))).cast("double")
                    / F.size(toks)
                )
                * 10000.0
            )
            / 10000.0
        )

    p = docs.select(
        F.col("lang").alias("actual_lang"),
        F.when(
            density(_LANG_KEYWORDS["de"]) >= density(_LANG_KEYWORDS["en"]), "de"
        )
        .otherwise("en")
        .alias("predicted_lang"),
    )
    from pyspark.sql import Window as W

    cell = p.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = F.sum("n_docs").over(W.partitionBy("actual_lang"))
    return cell.select(
        "actual_lang",
        "predicted_lang",
        "n_docs",
        (F.round(F.col("n_docs") * 10000.0 / tot) / 10000.0).alias(
            "share_of_actual"
        ),
    ).orderBy("actual_lang", "predicted_lang")


# ---------------------------------------------------------------------------
# Quality × duplication interaction
# ---------------------------------------------------------------------------


@q(
    "quality_dup_interaction",
    f"""
    WITH {_SHINGLE_CTE},
    {_near_dup_tail(band_size=2, as_cte=True)},
    dup AS (
      SELECT DISTINCT id FROM (
        SELECT id_a AS id FROM pairs WHERE jaccard >= 0.5
        UNION ALL
        SELECT id_b AS id FROM pairs WHERE jaccard >= 0.5
      )
    ),
    s AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS tc,
             round(((length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
                   / len(string_split(text, ' '))) * 10000.0) / 10000.0
               AS avg_len,
             round((len(list_filter(string_split(text, ' '),
                                   t -> t IN {_STOP_SQL}))::DOUBLE
                   / len(string_split(text, ' '))) * 10000.0) / 10000.0
               AS stop_r,
             round((len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE
                   / length(text)) * 10000.0) / 10000.0 AS punct_r
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN tc BETWEEN 30 AND 80
                   AND avg_len BETWEEN 2.0 AND 12.0
                   AND stop_r <= 0.12 AND punct_r <= 0.2
                  THEN 1 ELSE 0 END AS passed
      FROM s
    ),
    f AS (
      SELECT g.passed,
             CASE WHEN d.id IS NOT NULL THEN 1 ELSE 0 END AS is_near_dup
      FROM g LEFT JOIN dup d ON d.id = g.doc_id
    )
    SELECT passed, is_near_dup,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(count(*) * 10000.0
                 / sum(count(*)) OVER (PARTITION BY passed)) / 10000.0
             AS share_of_quality_class
    FROM f GROUP BY passed, is_near_dup ORDER BY passed, is_near_dup
    """,
)
def quality_dup_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family curation audit: does LOW-quality content
    near-duplicate more often than high-quality content? (It usually
    does — template spam both fails quality rules and re-crawls — and
    the answer decides filter ORDER: run the cheap gate first only if
    it doesn't starve the dedup stage of its true positives.) The 2×2
    (quality verdict × near-dup membership) table with row-normalized
    shares composes two existing machineries unchanged: the map-only
    quality gate and the banded near-dup pipeline; membership is a
    LEFT join of the corpus against the (tiny) dup-id set — keyed on
    id, unhinted, AQE picks the strategy. Shares are exact integer
    ratios under a display round via a window over the 4-cell frame."""
    from ..operators.dedup import near_duplicates
    from ..operators.quality import quality_gate

    docs = _t_wide(spark, sf_dir, "documents")
    gated = quality_gate(docs, "doc_id", "text").select(
        "doc_id", F.col("passed").cast("int").alias("passed")
    )
    pairs = near_duplicates(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3, band_size=2,
        threshold=0.5,
    )
    dup = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    f = gated.join(dup, gated.doc_id == dup.id, "left").select(
        "passed",
        F.when(F.col("_d").isNotNull(), 1).otherwise(0).alias("is_near_dup"),
    )
    from pyspark.sql import Window as W

    cell = f.groupBy("passed", "is_near_dup").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = F.sum("n_docs").over(W.partitionBy("passed"))
    return cell.select(
        "passed",
        "is_near_dup",
        "n_docs",
        (F.round(F.col("n_docs") * 10000.0 / tot) / 10000.0).alias(
            "share_of_quality_class"
        ),
    ).orderBy("passed", "is_near_dup")


@q(
    "near_dup_containment_pairs",
    f"""
    WITH {_SHINGLE_CTE},
    {_near_dup_tail(band_size=2, as_cte=True)},
    cont AS (
      SELECT c.id_a, c.id_b,
             CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_common,
             round(coalesce(i.n_inter, 0) * 10000.0 / za.n) / 10000.0
               AS contain_a_in_b,
             round(coalesce(i.n_inter, 0) * 10000.0 / zb.n) / 10000.0
               AS contain_b_in_a
      FROM cand c
      LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
      JOIN sizes za ON za.doc_id = c.id_a
      JOIN sizes zb ON zb.doc_id = c.id_b
    )
    SELECT id_a, id_b, n_common, contain_a_in_b, contain_b_in_a
    FROM cont
    WHERE contain_a_in_b >= 0.9 OR contain_b_in_a >= 0.9
    ORDER BY id_a, id_b
    """,
)
def near_dup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-duplication: shingle containment |A∩B|/|A|
    instead of Jaccard — the signal that catches a short document
    fully embedded in a longer one (quotes, syndication, wrapper
    boilerplate), which symmetric Jaccard structurally misses (a
    100-shingle doc inside a 10000-shingle doc has containment 1.0
    but Jaccard ≈ 0.01). Same scale machinery as the Jaccard
    entries — MinHash signatures → banded LSH candidates → exact
    shingle verification restricted to candidates (broadcast the
    candidate list, never the shingle sets) — only the verification
    RATIO changes; pairs where either direction ≥ 0.9 survive.
    Caveat, stated honestly: MinHash banding is tuned for JACCARD
    resemblance, so extreme-size-ratio containments may not band
    together — a production containment pass over 100 TB hashes the
    SHORT side's shingles into a Bloom/CMS probe instead; at this
    corpus's size ratios the banding recall is exact (pinned by the
    oracle, which verifies ALL banded candidates)."""
    from ..operators.dedup import (
        containment_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_set,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    # in-row-distinct shingle frame, persisted ONCE and shared by the
    # signature aggregation and both verification sides (code-review
    # r2 catch: the first cut global-distinct'd the widest frame and
    # recomputed it per consumer).
    sets = shingle_set(docs, "doc_id", "text", shingle_k=3).persist()
    sets.count()
    sig = minhash_signatures(
        docs, "doc_id", "text", n_hashes=8, shingle_sets=sets
    )
    cand = lsh_candidate_pairs(sig, "doc_id", n_hashes=8, band_size=2)
    cont = containment_verify(cand, sets, "doc_id")
    return (
        cont.where(
            (F.col("contain_a_in_b") >= 0.9) | (F.col("contain_b_in_a") >= 0.9)
        )
        .orderBy("id_a", "id_b")
    )


_BATCH = 8  # docs per padded batch
_LEN_BUCKET = 16  # token-length band width for the bucketed policy


@q(
    "doc_padding_waste_by_bucketing",
    f"""
    WITH d AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    fifo AS (
      SELECT source, n_tok,
             (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
               // {_BATCH} AS batch
      FROM d
    ),
    fifo_b AS (
      SELECT source, batch, max(n_tok) AS mx, count(*) AS c,
             sum(n_tok) AS s
      FROM fifo GROUP BY source, batch
    ),
    buck AS (
      SELECT source, n_tok, n_tok // {_LEN_BUCKET} AS lb,
             (row_number() OVER (PARTITION BY source, n_tok // {_LEN_BUCKET}
                                 ORDER BY doc_id) - 1) // {_BATCH} AS batch
      FROM d
    ),
    buck_b AS (
      SELECT source, lb, batch, max(n_tok) AS mx, count(*) AS c,
             sum(n_tok) AS s
      FROM buck GROUP BY source, lb, batch
    ),
    pol AS (
      SELECT 'fifo' AS policy,
             CAST(count(*) AS BIGINT) AS n_batches,
             CAST(sum(s) AS BIGINT) AS total_tokens,
             CAST(sum(mx * c) AS BIGINT) AS padded_tokens
      FROM fifo_b
      UNION ALL
      SELECT 'length_bucketed' AS policy,
             CAST(count(*) AS BIGINT) AS n_batches,
             CAST(sum(s) AS BIGINT) AS total_tokens,
             CAST(sum(mx * c) AS BIGINT) AS padded_tokens
      FROM buck_b
    )
    SELECT policy, n_batches, total_tokens, padded_tokens,
           round((padded_tokens - total_tokens) * 10000.0
                 / padded_tokens) / 10000.0 AS waste_frac
    FROM pol ORDER BY policy
    """,
)
def doc_padding_waste_by_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padded-batch efficiency audit — the FINE-TUNING counterpart of
    `doc_pack_chunks` (which concat-packs for pretraining): when
    examples are padded to the longest member of each {_BATCH}-doc
    batch, what fraction of compute is padding under (a) arrival-order
    batching vs (b) length-bucketed batching (SortishSampler /
    bucket-by-sequence-length, the standard fix)? Batches form
    deterministically in doc_id order WITHIN source — the shard key a
    real loader batches inside, which also keeps every window
    partition-bounded (no global sort; the 100 TB plan is identical).
    Everything is exact integer arithmetic: per-batch max·count and
    token sums, one window + two aggregates per policy, and the
    waste fraction is an integer ratio under a display round."""
    docs = _t_wide(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    d = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )

    def policy(name: str, part_cols):
        w = W.partitionBy(*part_cols).orderBy("doc_id")
        batched = d.withColumn(
            "lb", (F.col("n_tok") / _LEN_BUCKET).cast("long")
        ).select(
            "source",
            "n_tok",
            "lb",
            F.floor((F.row_number().over(w) - 1) / _BATCH).alias("batch"),
        )
        per_batch = batched.groupBy(*part_cols, "batch").agg(
            F.max("n_tok").alias("mx"),
            F.count(F.lit(1)).alias("c"),
            F.sum("n_tok").alias("s"),
        )
        return per_batch.agg(
            F.lit(name).alias("policy"),
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("s").cast("long").alias("total_tokens"),
            F.sum(F.col("mx") * F.col("c")).cast("long").alias("padded_tokens"),
        )

    # the window's partition cols must exist on d before the
    # row_number runs, so lb is computed inside policy() for both
    fifo = policy("fifo", ["source"])
    buck = policy("length_bucketed", ["source", "lb"])
    pol = fifo.unionByName(buck)
    return pol.select(
        "policy",
        "n_batches",
        "total_tokens",
        "padded_tokens",
        (
            F.round(
                (F.col("padded_tokens") - F.col("total_tokens"))
                * 10000.0
                / F.col("padded_tokens")
            )
            / 10000.0
        ).alias("waste_frac"),
    ).orderBy("policy")
