"""Thirteenth-batch declared queries: retrieval evaluation, cohort
economics, and probabilistic record linkage.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - recall@k evaluation of the sign-LSH ANN path against exact
   brute-force ground truth (the eval harness every ANN deployment
   needs before trusting its index)
 - weekly cohort LTV curve (cumulative revenue per user by cohort
   age — the money sibling of the retention matrix)
 - Fellegi-Sunter probabilistic record linkage (blocked candidate
   pairs scored by field-agreement log-odds weights)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import _t, q

# dot product as a sequential left fold — the same iteration order as
# DuckDB's list_dot_product, so the sum is bit-identical across engines
def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_ANN_RECALL_BUCKET = " || ".join(
    f"(CASE WHEN embedding[{i}] >= 0 THEN '1' ELSE '0' END)" for i in range(1, 7)
)


@q(
    "embedding_ann_recall",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm,
             {_ANN_RECALL_BUCKET} AS bucket
      FROM embeddings
    ),
    qv AS (SELECT * FROM base WHERE vec_id < 20),
    exact AS (
      SELECT qv.vec_id AS query_id, b.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY qv.vec_id
               ORDER BY round((list_dot_product(qv.v, b.v) / (qv.nrm * b.nrm))
                              * 100000.0) / 100000.0 DESC,
                        b.vec_id ASC) AS rn
      FROM qv JOIN base b ON b.vec_id <> qv.vec_id
    ),
    gt AS (SELECT query_id, neighbor_id FROM exact WHERE rn <= 10),
    annc AS (
      SELECT qv.vec_id AS query_id, b.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY qv.vec_id
               ORDER BY round((list_dot_product(qv.v, b.v) / (qv.nrm * b.nrm))
                              * 100000.0) / 100000.0 DESC,
                        b.vec_id ASC) AS rn
      FROM qv JOIN base b ON b.bucket = qv.bucket AND b.vec_id <> qv.vec_id
    ),
    ann AS (
      SELECT query_id, neighbor_id,
             CAST(count(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cand
      FROM annc WHERE rn <= 10
    )
    SELECT gt.query_id,
           CAST(max(coalesce(ann.n_cand, 0)) AS BIGINT) AS n_ann_results,
           CAST(sum(CASE WHEN ann.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           round(sum(CASE WHEN ann.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 / 10.0 * 1000000.0) / 1000000.0 AS recall_at_10
    FROM gt LEFT JOIN ann
      ON ann.query_id = gt.query_id AND ann.neighbor_id = gt.neighbor_id
    GROUP BY gt.query_id ORDER BY gt.query_id
    """,
)
def embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the 6-bit sign-LSH bucketed ANN against exact
    brute-force cosine ground truth, per query — the evaluation
    harness that must gate any ANN index before it replaces exact
    search (`embedding_ann_bucketed` gives the fast path; this entry
    measures what that speed costs in recall). Both rankings use the
    identical sequential-fold dot product (F.aggregate/zip_with here,
    list_dot_product in the oracle — same iteration order, so scores
    are bit-identical before the 1e-5 tie-round) and the same
    (rounded score, id) total order. Scale shape: queries broadcast
    onto the corpus for ground truth (query×corpus, the one
    deliberately-exact part — at 100 TB you'd sample queries), while
    the ANN side only probes same-bucket rows; the recall join is
    query-set-sized."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    bucket = F.concat(
        *[
            F.when(F.get(F.col("embedding"), i) >= 0, "1").otherwise("0")
            for i in range(6)
        ]
    )
    base = emb.select(
        "vec_id",
        v.alias("v"),
        F.sqrt(_dot(v, v)).alias("nrm"),
        bucket.alias("bucket"),
    )
    qv = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    cos = (
        F.round(
            _dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))
            * 100000.0
        )
        / 100000.0
    )
    # r10 optimization (guide §2.4/§4.1): the exact and ANN rankings
    # used to be two separate broadcast joins, each paying the
    # interpreted `_dot` fold over every (query x corpus) pair, each
    # with its own window shuffle+sort on query_id. The ANN candidate
    # set is the bucket-matched SUBSET of the exact pair set under the
    # SAME (cos DESC, vec_id ASC) total order, so its row_number
    # equals a running count of bucket-matched rows in the global
    # ranking — one scored join, one exchange, one sort, one fold
    # pass; both ranks read off the same WindowExec. (vec_id is unique
    # per query partition, so the order is total and the running count
    # over matched rows is exactly the subset's row_number.)
    scored = base.join(
        F.broadcast(qv), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        cos.alias("_cos"),
        (F.col("bucket") == F.col("qbucket")).alias("_m"),
    )
    rank_w = W.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.asc("vec_id")
    )
    ranked = scored.select(
        "query_id",
        "vec_id",
        "_m",
        F.row_number().over(rank_w).alias("rn"),
        F.sum(F.when(F.col("_m"), 1).otherwise(0))
        .over(rank_w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("rn_ann"),
    )
    # r11 optimization (guide §2.4; closes VERDICT r10 item 1): the
    # r10 readout split `ranked` into exact/ann frames and LEFT-joined
    # them back — and because both sides derive from the same lineage,
    # the planner kept TWO full scored-join+window subtrees (see
    # plans/r11/embedding_ann_recall_before.txt). The recall numbers
    # are all per-query counts over the SAME ranked rows:
    #   n_hits        = Σ(rn<=10 ∧ matched ∧ rn_ann<=10)  (top-10 ∩ ANN-10)
    #   ann_count     = Σ(matched ∧ rn_ann<=10)           (= min(|matched|,10))
    #   n_ann_results = any hit ? ann_count : 0  (oracle: max(coalesce)
    #                   over gt rows is n_cand iff >=1 exact row joins)
    # so ONE conditional groupBy replaces the self-join: one scored
    # join, one window, one aggregate — no duplicated subtree. Every
    # query with >=1 scored row has rn=1, so the group set matches gt.
    in_ann10 = F.col("_m") & (F.col("rn_ann") <= 10)
    hits = F.sum(F.when((F.col("rn") <= 10) & in_ann10, 1).otherwise(0))
    ann_count = F.sum(F.when(in_ann10, 1).otherwise(0))
    return (
        ranked.groupBy("query_id")
        .agg(
            F.when(hits > 0, ann_count)
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_ann_results"),
            hits.cast("long").alias("n_hits"),
            (F.round(hits / 10.0 * 1000000.0) / 1000000.0).alias(
                "recall_at_10"
            ),
        )
        .orderBy("query_id")
    )


@q(
    "user_cohort_ltv_curve",
    """
    WITH e AS (
      SELECT user_id, event_type, value,
             CAST(epoch_ns(ts) // 1000 // 86400000000 // 7 AS BIGINT) AS wk
      FROM events
    ),
    cohort AS (SELECT user_id, min(wk) AS cw FROM e GROUP BY user_id),
    csize AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users FROM cohort GROUP BY cw),
    mx AS (SELECT max(wk) AS mw FROM e),
    wrev AS (
      SELECT c.cw, e.wk - c.cw AS age, sum(e.value) AS rev
      FROM e JOIN cohort c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
      GROUP BY c.cw, e.wk - c.cw
    ),
    spine AS (
      SELECT cs.cw, unnest(range(0, mx.mw - cs.cw + 1)) AS age
      FROM csize cs, mx
    ),
    filled AS (
      SELECT s.cw, s.age, coalesce(w.rev, 0.0) AS rev
      FROM spine s LEFT JOIN wrev w ON w.cw = s.cw AND w.age = s.age
    )
    SELECT f.cw AS cohort_week, f.age, cs.n_users,
           round(sum(f.rev) OVER (PARTITION BY f.cw ORDER BY f.age ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
                 * 1000.0) / 1000.0 AS cum_revenue,
           round(sum(f.rev) OVER (PARTITION BY f.cw ORDER BY f.age ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
                 / cs.n_users * 1000000.0) / 1000000.0 AS ltv_per_user
    FROM filled f JOIN csize cs ON cs.cw = f.cw
    ORDER BY cohort_week, age
    """,
)
def user_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort LTV curve: users grouped by their first-activity
    week, purchase revenue accumulated per cohort over cohort AGE —
    the money-side sibling of `user_weekly_retention` (retention
    counts who comes back; LTV measures what they're worth), and the
    curve unit-economics payback math reads from. Zero-revenue ages
    are spine-filled (in-row `sequence` per cohort up to the corpus
    horizon) so the cumulative window steps through every age in both
    engines. Shape: one per-user cohort aggregate broadcast back onto
    the fact (user-key shuffle), revenue collapses to the
    |cohorts|×|ages| frame, and the running sums are windows over
    that tiny frame."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    day = (F.col("us") - F.col("us") % 86400000000) / 86400000000
    e = ev.select(
        "user_id",
        "event_type",
        "value",
        ((day - day % 7) / 7).cast("long").alias("wk"),
    )
    cohort = e.groupBy("user_id").agg(F.min("wk").alias("cw"))
    csize = cohort.groupBy("cw").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    mx = e.agg(F.max("wk").alias("mw"))
    wrev = (
        e.where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        # user-keyed equi-join, NOT broadcast-hinted: the cohort table
        # is per-user (corpus-scale at 100 TB) — let AQE pick the
        # strategy at actual sizes.
        .join(cohort, "user_id")
        .groupBy("cw", (F.col("wk") - F.col("cw")).alias("age"))
        .agg(F.sum("value").alias("rev"))
    )
    spine = (
        csize.crossJoin(F.broadcast(mx))
        .select(
            "cw",
            F.explode(
                F.sequence(F.lit(0), F.col("mw") - F.col("cw"))
            ).alias("age"),
        )
    )
    filled = spine.join(wrev, ["cw", "age"], "left").select(
        "cw", "age", F.coalesce(F.col("rev"), F.lit(0.0)).alias("rev")
    )
    wcum = (
        W.partitionBy("cw")
        .orderBy(F.asc("age"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("rev").over(wcum)
    return (
        filled.join(F.broadcast(csize), "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            "age",
            "n_users",
            (F.round(cum * 1000.0) / 1000.0).alias("cum_revenue"),
            (F.round(cum / F.col("n_users") * 1000000.0) / 1000000.0).alias(
                "ltv_per_user"
            ),
        )
        .orderBy("cohort_week", "age")
    )


# Fellegi-Sunter field weights: ln(m/u) for agreement, ln((1-m)/(1-u))
# for disagreement, precomputed as literals (m = P(agree | match),
# u = P(agree | non-match)) — runtime arithmetic is pure literal sums.
_W_SEG_AGREE = 2.0817  # m=0.95, u=0.12  -> ln(7.9167)
_W_SEG_DISAGREE = -2.8737  # ln(0.05/0.88)
_W_BAL_AGREE = 2.9957  # m=0.90, u=0.045 -> ln(20.0)
_W_BAL_DISAGREE = -2.2561  # ln(0.10/0.955)


@q(
    "customer_linkage_scores",
    f"""
    WITH src AS (
      SELECT c_custkey, c_mktsegment, c_acctbal, c_nationkey,
             CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_block
      FROM customer
    ),
    ord AS (
      SELECT *, row_number() OVER (
               PARTITION BY c_nationkey, bal_block
               ORDER BY c_acctbal ASC, c_custkey ASC) AS rn
      FROM src
    ),
    pairs AS (
      SELECT least(a.c_custkey, b.c_custkey) AS id_a,
             greatest(a.c_custkey, b.c_custkey) AS id_b,
             (CASE WHEN a.c_mktsegment = b.c_mktsegment
                   THEN {_W_SEG_AGREE} ELSE {_W_SEG_DISAGREE} END)
             + (CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 500.0
                     THEN {_W_BAL_AGREE} ELSE {_W_BAL_DISAGREE} END) AS score
      FROM ord a JOIN ord b
        ON b.c_nationkey = a.c_nationkey AND b.bal_block = a.bal_block
       AND b.rn BETWEEN a.rn + 1 AND a.rn + 3
    )
    SELECT round(score * 10000.0) / 10000.0 AS score,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(id_a) AS BIGINT) AS min_id_a,
           CAST(max(id_b) AS BIGINT) AS max_id_b
    FROM pairs GROUP BY score ORDER BY score
    """,
)
def customer_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage via SORTED
    NEIGHBORHOOD candidate generation: within each (nation, coarse
    balance block) partition, records sort by (balance, key) and each
    record pairs with its next W=3 neighbors only — candidate count is
    O(n·W), LINEAR in data size, unlike block-join all-pairs whose
    ~150 fixed blocks would grow candidates n²/150 at 100×
    (test_scale_patterns asserts the n·W bound). Each pair scores by
    field-agreement log-odds weights (precomputed literals: segment
    match, balance-within-500); the score histogram is the output —
    the bimodal gap between match and non-match modes is where a
    linkage deployment sets its threshold. All runtime arithmetic is
    sums of literal doubles over exact comparisons — bit-identical
    across engines. At 100 TB the one shuffle is the window partition
    (customer is a dimension table — even at 1000× a partition's sort
    fits a task); sort-order neighbors are exactly the high-recall
    candidates for numeric fields, and boundary pairs lost at block
    edges are the standard, documented sorted-neighborhood recall
    tradeoff (multi-pass with offset blocks is the production knob)."""
    src = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("bal_block"),
    )
    w = W.partitionBy("c_nationkey", "bal_block").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    nbr = F.array(
        *[
            F.lead(
                F.struct(
                    F.col("c_custkey").alias("id"),
                    F.col("c_mktsegment").alias("seg"),
                    F.col("c_acctbal").alias("bal"),
                ),
                i,
            ).over(w)
            for i in (1, 2, 3)
        ]
    )
    exploded = (
        src.withColumn("nbrs", nbr)
        .withColumn("nb", F.explode("nbrs"))
        .where(F.col("nb").isNotNull())
    )
    score = F.when(
        F.col("c_mktsegment") == F.col("nb.seg"), F.lit(_W_SEG_AGREE)
    ).otherwise(F.lit(_W_SEG_DISAGREE)) + F.when(
        F.abs(F.col("c_acctbal") - F.col("nb.bal")) < 500.0, F.lit(_W_BAL_AGREE)
    ).otherwise(F.lit(_W_BAL_DISAGREE))
    pairs = exploded.select(
        F.least(F.col("c_custkey"), F.col("nb.id")).alias("id_a"),
        F.greatest(F.col("c_custkey"), F.col("nb.id")).alias("id_b"),
        score.alias("score"),
    )
    return (
        pairs.groupBy(
            (F.round(F.col("score") * 10000.0) / 10000.0).alias("score")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("id_a").cast("long").alias("min_id_a"),
            F.max("id_b").cast("long").alias("max_id_b"),
        )
        .orderBy("score")
    )
