"""Twenty-fifth-batch declared queries: semantic (embedding-space)
deduplication and importance-resampled corpus selection — two published
LLM-data-curation methods re-expressed Spark-first.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cluster the
   embeddings, enumerate cosine-duplicate pairs ONLY within clusters
   (Σ cluster² ≪ corpus²), then keep one survivor per duplicate group —
   the member LEAST similar to its centroid (diversity-maximizing).
 - DSIR-style importance resampling (Xie et al. 2023,
   arXiv:2302.03169): score every document by its unigram-LM
   log-likelihood ratio between a target distribution (here the
   ``lang='en'`` slice) and the raw corpus, convert to importance
   weights, and resample weight-proportionally with the engine's
   deterministic md5-acceptance sampler.

Determinism engineering (CLAUDE.md): cosine rounded 1e-5 IN-KERNEL and
thresholded on the rounded value (the driver-green embedding-pair
convention); per-token log-ratios quantized to exact micro-nat BIGINTs
so per-doc scores are integer sums; importance weights quantized to
integers so the acceptance inequality compares exact IEEE doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import _EMB_BASE, _hex_int_sql, _kmeans_oracle_ctes, _t, _t_wide, q

# Within-cluster duplicate pairs under the final (5-iteration) centroids;
# threshold on the ROUNDED cosine, mirroring similarity._safe_cos.
_SEM_PAIRS = f"""
    {_EMB_BASE},
    sempairs AS (
      SELECT * FROM (
        SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm)
                     * 100000.0) / 100000.0 AS cos_sim
        FROM afin a
        JOIN afin b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN base x ON x.vec_id = a.vec_id
        JOIN base y ON y.vec_id = b.vec_id
      ) WHERE cos_sim >= 0.35
    )
"""


@q(
    "embedding_semantic_dup_pairs",
    f"""
    WITH {_kmeans_oracle_ctes(5)},
    {_SEM_PAIRS}
    SELECT CAST(cluster AS INTEGER) AS cluster, id_a, id_b, cos_sim
    FROM sempairs ORDER BY id_a, id_b
    """,
)
def embedding_semantic_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup candidate structure (Abbas et al. 2023): k-means the
    embeddings (5 fixed Lloyd iterations, deterministic init — the
    same model the kmeans/IVF entries pin), then enumerate cosine
    pairs >= 0.35 ONLY within each cluster. The cluster key bounds the
    pair work to Σ cluster_size² — with k grown ∝ corpus size this is
    the shape that makes embedding-space dedup feasible at 100 TB,
    where an unclustered pair join is corpus². One shuffle on the
    cluster key; each cluster scores as a single local BLAS gram
    matrix (operators/similarity.py::clustered_similar_pairs)."""
    from ..operators.similarity import clustered_similar_pairs, kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    _, assigned = kmeans_fit(emb, "vec_id", "embedding", k=8, n_iters=5)
    return clustered_similar_pairs(
        assigned, "vec_id", threshold=0.35
    ).orderBy("id_a", "id_b")


@q(
    "embedding_semantic_dedup_survivors",
    f"""
    WITH RECURSIVE {_kmeans_oracle_ctes(5)},
    {_SEM_PAIRS},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM sempairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM sempairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    ),
    lab AS (SELECT node, min(lbl) AS comp FROM reach GROUP BY node),
    cvec AS (SELECT cluster, list(c ORDER BY d) AS cv FROM c5 GROUP BY cluster),
    dup AS (
      SELECT l.node, l.comp, a.cluster AS kcluster,
             round(list_dot_product(b.v, cv.cv)
                   / (b.nrm * sqrt(list_dot_product(cv.cv, cv.cv)))
                   * 100000.0) / 100000.0 AS cos2c
      FROM lab l
      JOIN afin a ON a.vec_id = l.node
      JOIN base b ON b.vec_id = l.node
      JOIN cvec cv ON cv.cluster = a.cluster
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY comp
                                   ORDER BY cos2c ASC, node ASC) AS rn
      FROM dup
    ),
    vc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors
           FROM afin GROUP BY cluster),
    pc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS dup_pairs
           FROM sempairs GROUP BY cluster),
    gc AS (SELECT kcluster AS cluster,
                  CAST(count(DISTINCT comp) AS BIGINT) AS dup_groups
           FROM dup GROUP BY kcluster),
    rc AS (SELECT kcluster AS cluster,
                  CAST(count(*) AS BIGINT) AS n_removed,
                  CAST(sum(node) AS BIGINT) AS removed_id_sum
           FROM ranked WHERE rn > 1 GROUP BY kcluster)
    SELECT CAST(vc.cluster AS INTEGER) AS cluster, vc.n_vectors,
           CAST(coalesce(pc.dup_pairs, 0) AS BIGINT) AS dup_pairs,
           CAST(coalesce(gc.dup_groups, 0) AS BIGINT) AS dup_groups,
           CAST(coalesce(rc.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(coalesce(rc.removed_id_sum, 0) AS BIGINT) AS removed_id_sum
    FROM vc
    LEFT JOIN pc ON pc.cluster = vc.cluster
    LEFT JOIN gc ON gc.cluster = vc.cluster
    LEFT JOIN rc ON rc.cluster = vc.cluster
    ORDER BY cluster
    """,
)
def embedding_semantic_dedup_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full SemDeDup pass: within-cluster duplicate pairs → connected
    components (transitive duplicate GROUPS) → keep the one member per
    group with the LOWEST cosine to its cluster centroid (the paper's
    diversity-maximizing survivor rule; ties break on vec_id), report
    per-cluster removal stats with a removed-id checksum. Components
    come from operators/graph.py::connected_components (driver
    union-find at this metadata scale — dup pairs ≪ corpus — with the
    distributed two-phase path above its threshold); the oracle closes the
    same graph with a recursive CTE. cos-to-centroid is a map-only
    Arrow kernel against the k×d centroid closure — no join."""
    from ..operators.graph import connected_components
    from ..operators.similarity import (
        clustered_similar_pairs,
        cos_to_centroid,
        kmeans_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    centroids, assigned = kmeans_fit(emb, "vec_id", "embedding", k=8, n_iters=5)
    # Three consumers (pair gram, cos2c map, per-cluster counts) —
    # persist + eager count per the shingle-frame convention so AQE
    # doesn't race three rebuilds of the assignment UDF stage.
    assigned = assigned.persist()
    assigned.count()
    pairs = clustered_similar_pairs(assigned, "vec_id", threshold=0.35).persist()
    pairs.count()
    comp = connected_components(pairs, "id_a", "id_b").select(
        "node", F.col("cluster").alias("comp")
    )
    c2 = cos_to_centroid(assigned, centroids).select(
        "vec_id", F.col("cluster").alias("kcluster"), "cos2c"
    )
    dup = comp.join(c2, comp["node"] == c2["vec_id"]).select(
        "node", "comp", "kcluster", "cos2c"
    )
    ranked = dup.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("comp").orderBy(F.asc("cos2c"), F.asc("node"))
        ),
    )
    vc = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    pc = pairs.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("dup_pairs")
    )
    gc = dup.groupBy(F.col("kcluster").alias("cluster")).agg(
        F.countDistinct("comp").cast("long").alias("dup_groups")
    )
    rc = (
        ranked.where(F.col("rn") > 1)
        .groupBy(F.col("kcluster").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_removed"),
            F.sum("node").cast("long").alias("removed_id_sum"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        vc.join(pc, "cluster", "left")
        .join(gc, "cluster", "left")
        .join(rc, "cluster", "left")
        .select(
            "cluster",
            "n_vectors",
            F.coalesce("dup_pairs", zero).alias("dup_pairs"),
            F.coalesce("dup_groups", zero).alias("dup_groups"),
            F.coalesce("n_removed", zero).alias("n_removed"),
            F.coalesce("removed_id_sum", zero).alias("removed_id_sum"),
        )
        .orderBy("cluster")
    )


@q(
    "doc_dsir_importance_sample",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tgt AS (SELECT token, CAST(count(*) AS BIGINT) AS ct
            FROM toks WHERE lang = 'en' GROUP BY token),
    src AS (SELECT token, CAST(count(*) AS BIGINT) AS cs
            FROM toks GROUP BY token),
    tot AS (SELECT CAST(sum(cs) AS DOUBLE) AS ns,
                   CAST(count(*) AS DOUBLE) AS v FROM src),
    ttot AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) AS nt FROM tgt),
    lr AS (
      SELECT s.token,
             CAST(round(ln(((coalesce(t.ct, 0) + 1.0) / (ttot.nt + tot.v))
                           / ((s.cs + 1.0) / (tot.ns + tot.v)))
                        * 1000000.0) AS BIGINT) AS lr
      FROM src s LEFT JOIN tgt t USING (token)
      CROSS JOIN tot CROSS JOIN ttot
    ),
    sc AS (
      SELECT k.doc_id, min(k.lang) AS lang,
             CAST(sum(l.lr) AS BIGINT) AS score
      FROM toks k JOIN lr l USING (token) GROUP BY k.doc_id
    ),
    w AS (
      SELECT doc_id, lang,
             greatest(CAST(round(exp(least(greatest(
                 score / 1000000.0 / 0.25, -8.0), 8.0)) * 1000.0) AS BIGINT),
               1) AS wgt
      FROM sc
    ),
    tw AS (SELECT CAST(sum(wgt) AS DOUBLE) AS tw_w,
                  CAST(count(*) AS DOUBLE) AS tw_n FROM w),
    kept AS (
      SELECT w.doc_id FROM w CROSS JOIN tw
      WHERE CAST({_hex_int_sql("md5('ws:' || CAST(doc_id AS VARCHAR))", 4)} AS DOUBLE) * tw_w
            < 0.25 * tw_n * CAST(wgt AS DOUBLE) * 65536.0
    )
    SELECT w.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(kept.doc_id) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(kept.doc_id), 0) AS BIGINT) AS kept_id_sum,
           round(CAST(sum(wgt) AS DOUBLE) * 10000.0 / count(*) / 1000.0)
             / 10000.0 AS mean_w
    FROM w LEFT JOIN kept ON kept.doc_id = w.doc_id
    GROUP BY w.lang ORDER BY w.lang
    """,
)
def doc_dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023): score each
    document by its unigram-LM log-likelihood ratio between a target
    distribution (the ``lang='en'`` slice stands in for the
    high-quality target corpus) and the raw corpus, both add-one
    smoothed over the corpus vocabulary; weight w = exp(score / T)
    (T = 0.25, clamped ±8 nats); resample weight-proportionally at
    rate 0.25 with the deterministic md5-acceptance sampler
    (operators/sampling.py::weighted_hash_sample — same 'ws:' salt,
    so acceptance is a pure function of doc_id and corpus totals).
    DETERMINISM (r3 transcendental audit): per-TOKEN log-ratios
    quantize to exact micro-nat BIGINTs so per-doc scores are exact
    integer sums, and weights quantize to integers so the acceptance
    inequality compares exact values — but the quantization itself
    rounds libm outputs (ONE ln per vocabulary entry, one exp per
    doc), and JVM vs DuckDB libm may disagree in the last ulp. The
    residual risk is consciously taken and bounded: both engines feed
    ln/exp BITWISE-IDENTICAL arguments (exact integer counts composed
    through correctly-rounded IEEE divisions; the ratio-of-ratios is
    a SINGLE ln so only one libm call's ulp is in play, not two), and
    the true log-ratio of two rationals is transcendental — unlike the
    KM entry's exact-rational survival probabilities it can never sit
    exactly ON a micro-nat half-boundary, so a flip needs the true
    value within ~1 ulp (≈2e-15 at |lr|≤16) of a 5e-7 grid edge:
    p ≈ 4e-9/token, ≈4e-4 per full-vocabulary run. The integer-exact
    alternative (cross-multiplied count products at a fixed grid)
    cannot express a SUMMED-then-exponentiated score in SQL. At 100 TB the
    LM tables are vocabulary-sized (shuffle by token — never
    broadcast), scoring is one token-key join + one doc-key
    aggregate, and acceptance is map-only. Output: per-lang kept
    counts + membership checksum (en docs up-weighted, as the target
    LM prescribes)."""
    from ..operators.sampling import weighted_hash_sample

    docs = _t_wide(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    src = tok.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("cs"))
    tgt = (
        tok.where(F.col("lang") == "en")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    tot = src.agg(
        F.sum("cs").cast("double").alias("ns"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    ttot = tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("double").alias("nt"))
    lr = (
        src.join(tgt, "token", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ttot))
        .select(
            "token",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                        / (F.col("nt") + F.col("v"))
                    )
                    / ((F.col("cs") + 1.0) / (F.col("ns") + F.col("v")))
                )
                * 1000000.0
            )
            .cast("long")
            .alias("lr"),
        )
    )
    sc = (
        tok.join(lr, "token")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.sum("lr").cast("long").alias("score"),
        )
    )
    wgt = F.greatest(
        F.round(
            F.exp(
                F.least(
                    F.greatest(F.col("score") / 1000000.0 / 0.25, F.lit(-8.0)),
                    F.lit(8.0),
                )
            )
            * 1000.0
        ).cast("long"),
        F.lit(1).cast("long"),
    )
    w = sc.select("doc_id", "lang", wgt.alias("wgt")).persist()
    w.count()
    kept = weighted_hash_sample(w, "doc_id", "wgt", rate=0.25).select(
        "doc_id", F.lit(1).alias("k")
    )
    return (
        w.join(kept, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("k").cast("long").alias("n_kept"),
            F.coalesce(F.sum(F.col("k") * F.col("doc_id")), F.lit(0))
            .cast("long")
            .alias("kept_id_sum"),
            (
                F.round(
                    F.sum("wgt").cast("double")
                    * 10000.0
                    / F.count(F.lit(1))
                    / 1000.0
                )
                / 10000.0
            ).alias("mean_w"),
        )
        .orderBy("lang")
    )
