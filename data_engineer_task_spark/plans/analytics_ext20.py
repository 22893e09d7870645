"""Twenty-first-batch declared queries: corpus novelty scoring, dedup
threshold calibration, and market-concentration auditing.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - n-gram novelty vs the growing corpus (what fraction of each doc's
   shingles appear here first — the diversity signal dedup thresholds
   are tuned against)
 - near-dup threshold sweep (pair counts surviving each candidate
   Jaccard cutoff, from ONE candidate generation — the calibration
   curve that picks a production threshold)
 - Herfindahl-Hirschman concentration index per region (in-row
   deterministic folds per CLAUDE.md's float rule)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import _SHINGLE_CTE, _SPLIT_BYTE, _near_dup_tail, _t, _t_wide, q
from ..sources.catalog import gated_broadcast


@q(
    "doc_ngram_novelty",
    f"""
    WITH {_SHINGLE_CTE},
    sets AS (SELECT DISTINCT doc_id, shingle FROM shf),
    nov AS (
      SELECT doc_id, shingle,
             min(doc_id) OVER (PARTITION BY shingle) AS first_doc
      FROM sets
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round((sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                  * 10000.0 / count(*))) / 10000.0 AS novelty
    FROM nov GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty against the growing corpus: a doc's shingle is
    'novel' if no lower-id document contains it (ingestion order =
    doc_id), and the per-doc novelty fraction is the curation signal
    that separates fresh content from remix/boilerplate — the
    continuous cousin of the binary dedup verdict. Plan: ONE window
    (min doc_id per shingle — a single shuffle on shingle, map-side
    combinable) then the per-doc aggregate; no join against a
    vocabulary table at all. At 100 TB the shingle partition is the
    shuffle to watch — stopword-heavy shingles are the hot keys, and
    the same rare-first prefix trick the PPJoin entry uses (or a
    df-cap filter) bounds them; the window itself only computes min,
    so AQE's skew split applies cleanly."""
    docs = _t_wide(spark, sf_dir, "documents")
    from ..operators.dedup import shingle_set

    # in-row array_distinct → explode (CLAUDE.md shingle-frame rule):
    # a doc's shingles are row-local, so a global .distinct() would
    # shuffle the widest frame in the pipeline for nothing.
    sets = shingle_set(docs, "doc_id", "text", shingle_k=3)
    nov = sets.withColumn(
        "first_doc", F.min("doc_id").over(W.partitionBy("shingle"))
    )
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        nov.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            (
                F.round(novel * 10000.0 / F.count(F.lit(1))) / 10000.0
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@q(
    "near_dup_threshold_sweep",
    f"""
    WITH {_SHINGLE_CTE},
    {_near_dup_tail(band_size=2, as_cte=True)}
    SELECT CAST(t.threshold AS DOUBLE) AS threshold,
           CAST(sum(CASE WHEN p.jaccard >= CAST(t.threshold AS DOUBLE)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
    FROM pairs p,
         (VALUES (CAST(0.1 AS DOUBLE)), (CAST(0.3 AS DOUBLE)),
                 (CAST(0.5 AS DOUBLE)), (CAST(0.7 AS DOUBLE)),
                 (CAST(0.9 AS DOUBLE))) t(threshold)
    GROUP BY t.threshold ORDER BY threshold
    """,
)
def near_dup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold calibration: how many candidate pairs survive
    each Jaccard cutoff, computed from ONE candidate generation + ONE
    verification pass (the expensive work) with a 5-row literal
    threshold frame cross-joined on top (broadcast-scalar piggyback —
    the same pattern as the other VALUES cross joins, never a data×
    data product). Reading the curve's elbow is how a production
    pipeline picks its threshold instead of guessing; re-running the
    whole pipeline per candidate threshold would cost 5× for the same
    answer."""
    from ..operators.dedup import near_duplicates

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3, band_size=2
    )
    thresholds = F.explode(
        F.array(*[F.lit(t) for t in (0.1, 0.3, 0.5, 0.7, 0.9)])
    ).alias("threshold")
    return (
        pairs.select("jaccard", thresholds)
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(F.col("jaccard") >= F.col("threshold"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_pairs")
        )
        .orderBy("threshold")
    )


@q(
    "nation_revenue_hhi",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             round(sum(o.o_totalprice) * 100.0) / 100.0 AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    ),
    folded AS (
      SELECT region,
             CAST(count(*) AS BIGINT) AS n_nations,
             list(rev_c ORDER BY nation ASC) AS revs
      FROM rev GROUP BY region
    )
    SELECT region, n_nations,
           round((list_reduce(list_transform(revs,
                    x -> pow(x / list_reduce(revs, (a, b) -> a + b), 2)),
                    (a, b) -> a + b)) * 1000000.0) / 1000000.0 AS hhi,
           round((list_max(revs) / list_reduce(revs, (a, b) -> a + b))
                 * 1000000.0) / 1000000.0 AS top_share
    FROM folded ORDER BY region
    """,
)
def nation_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index: per region, the sum
    of squared nation revenue shares (1/n = perfectly even, 1.0 =
    monopoly) plus the top nation's share — the standard audit for
    'is this region's revenue dangerously concentrated'. Float
    discipline per CLAUDE.md: shares derive from cents-quantized
    revenues, and both the total and the Σshare² fold IN-ROW over a
    nation-name-ordered list (`F.aggregate` ↔ DuckDB `list_reduce`,
    both left folds) — no grouped float sum whose partition order
    could flip a display digit. The fact aggregate is the only big
    shuffle; everything after runs on the |region|×|nation| frame."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(gated_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg((F.round(F.sum("o_totalprice") * 100.0) / 100.0).alias("rev_c"))
    )
    folded = rev.groupBy("region").agg(
        F.count(F.lit(1)).cast("long").alias("n_nations"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("nation", "rev_c"))),
            lambda x: x["rev_c"],
        ).alias("revs"),
    )
    tot = F.aggregate("revs", F.lit(0.0), lambda a, b: a + b)
    hhi = F.aggregate(
        F.transform("revs", lambda x: F.pow(x / tot, 2)),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return folded.select(
        "region",
        "n_nations",
        (F.round(hhi * 1000000.0) / 1000000.0).alias("hhi"),
        (F.round((F.array_max("revs") / tot) * 1000000.0) / 1000000.0).alias(
            "top_share"
        ),
    ).orderBy("region")


@q(
    "stream_sliding_event_counts",
    """
    WITH s AS (
      SELECT event_type, value,
             to_timestamp((epoch_ns(ts) // 1000000000 // 1800) * 1800) AS w0
      FROM events
    ),
    w AS (
      SELECT event_type, value,
             unnest([w0, w0 - INTERVAL 30 MINUTE]) AS ws
      FROM s
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round((sum(value)) * 100.0) / 100.0 AS total_value
    FROM w GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def stream_sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-window aggregation executed as a REAL Structured
    Streaming query (parquet file source, multiple micro-batches,
    memory sink) — overlapping windows mean every event updates TWO
    window states, the shape the tumbling streaming twin
    (`stream_hourly_event_stats`) never exercises. Verified against
    the same batch SQL oracle as `sliding_event_counts`: streaming
    and batch must agree exactly."""
    from ..streaming.aggregate import run_stream_sliding_once

    return run_stream_sliding_once(
        spark, f"{sf_dir}/events.parquet", query_name="stream_sliding"
    )


@q(
    "customer_l_diversity",
    """
    WITH g AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
             CAST(count(*) AS BIGINT) AS group_size,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
      FROM customer
      GROUP BY c_nationkey, floor(c_acctbal / 2000)
    )
    SELECT l,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(group_size) AS BIGINT) AS n_customers,
           CAST(CASE WHEN l < 2 THEN 1 ELSE 0 END AS BIGINT) AS at_risk
    FROM g GROUP BY l ORDER BY l
    """,
)
def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the attribute-disclosure complement of
    `customer_k_anonymity`: a quasi-identifier group (nation, coarse
    balance bucket) that is k-anonymous can still leak its SENSITIVE
    attribute if every member shares one value — l = distinct
    sensitive values (market segment) per group, and l=1 groups are
    the disclosure risk this histogram flags. One hash aggregate with
    a distinct count over the bounded QI domain; same scale shape as
    the k-anonymity rollup."""
    cust = _t(spark, sf_dir, "customer")
    g = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct("c_mktsegment").cast("long").alias("l"),
    )
    return (
        g.groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("group_size").cast("long").alias("n_customers"),
        )
        .select(
            "l",
            "n_groups",
            "n_customers",
            F.when(F.col("l") < 2, 1).otherwise(0).cast("long").alias("at_risk"),
        )
        .orderBy("l")
    )


# Declared RRF shortlist depth: each retriever contributes its top-K
# candidates ONLY (K identical in the Spark plan and the DuckDB oracle,
# per the oracle-truncation rule — both engines cap, so the contract
# holds at any corpus size). K < the 500-doc sf0.001 corpus, so the
# truncation path is exercised at EVERY test scale, not just in prod.
_RRF_K = 300


@q(
    "hybrid_rrf_search",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      FROM toks GROUP BY doc_id, token
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
    df AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
    qterms AS (SELECT token, df FROM df ORDER BY df DESC, token ASC LIMIT 3),
    bm AS (
      SELECT tf.doc_id,
             round(sum(ln(1.0 + (s.n - q.df + 0.5) / (q.df + 0.5))
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)))
                 * 1000000.0) / 1000000.0 AS bm25
      FROM tf
      JOIN qterms q ON q.token = tf.token
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ),
    bm_top AS (
      SELECT doc_id, bm25 FROM bm
      ORDER BY bm25 DESC, doc_id ASC LIMIT {_RRF_K}
    ),
    bmr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_bm25
      FROM bm_top
    ),
    base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm
      FROM embeddings
    ),
    qv AS (SELECT * FROM base WHERE vec_id = 0),
    cs AS (
      SELECT b.vec_id AS doc_id,
             round((list_dot_product(qv.v, b.v) / (qv.nrm * b.nrm))
                   * 100000.0) / 100000.0 AS cos_sim
      FROM base b, qv WHERE b.vec_id <> 0
    ),
    cs_top AS (
      SELECT doc_id, cos_sim FROM cs
      ORDER BY cos_sim DESC, doc_id ASC LIMIT {_RRF_K}
    ),
    csr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS r_cos
      FROM cs_top
    ),
    fused AS (
      SELECT coalesce(bmr.doc_id, csr.doc_id) AS doc_id,
             coalesce(1.0 / (60 + bmr.r_bm25), 0.0)
             + coalesce(1.0 / (60 + csr.r_cos), 0.0) AS rrf,
             coalesce(bmr.r_bm25, 0) AS r_bm25,
             coalesce(csr.r_cos, 0) AS r_cos
      FROM bmr FULL OUTER JOIN csr ON csr.doc_id = bmr.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(r_bm25 AS BIGINT) AS r_bm25,
           CAST(r_cos AS BIGINT) AS r_cos,
           round(rrf * 1000000.0) / 1000000.0 AS rrf
    FROM fused
    ORDER BY round(rrf * 1000000.0) / 1000000.0 DESC, doc_id ASC
    LIMIT 20
    """,
)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (k=60): the BM25
    lexical ranking (3 highest-df query terms, as `doc_bm25_search`)
    and the dense cosine ranking against query vector 0 (as
    `embedding_cosine_topk`'s scorer) fuse by 1/(60+rank) — the
    standard way RAG stacks combine sparse and dense retrievers
    without score calibration, since RRF only consumes RANKS.

    DECLARED CONTRACT: each retriever contributes its top-K=_RRF_K
    shortlist only (rank 0 = "outside that retriever's shortlist",
    contribution 0) — the production RRF shape, where fusion consumes
    finite posting-list / ANN results, never a full corpus ranking.
    The cap is identical in the DuckDB oracle, so the hash contract
    holds at every corpus size (oracle-truncation rule). Both ranks
    are row_numbers over (rounded score, id) total orders, so fp
    noise can't permute them or the cutoff; the fusion sum is exact
    rational arithmetic in doubles.

    Scale shape (VERDICT r4 item 3 — the former corpus-wide
    single-partition ranks are gone): each shortlist materializes via
    TakeOrderedAndProject (per-partition top-K, driver merge of K·P
    rows) / the ANN scorer's partitioned top-k window; the only
    unpartitioned windows left rank WITHIN the K-row shortlists —
    constant-bounded frames, same class as the PQ/ADC shortlist
    ranks. The fusion join is 2·K rows, trivially broadcast."""
    from ..operators.similarity import cosine_topk

    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", r"\Q \E")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    qterms = dfreq.orderBy(F.desc("df"), F.asc("token")).limit(3)
    idf = F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term_score = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    bm = (
        tf.join(F.broadcast(qterms), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            (F.round(F.sum(term_score) * 1000000.0) / 1000000.0).alias("bm25")
        )
    )
    # top-K shortlist via TakeOrderedAndProject, THEN rank within the
    # K-row frame — the unpartitioned window sees ≤ _RRF_K rows
    bm_top = bm.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(_RRF_K)
    bmr = bm_top.select(
        "doc_id",
        F.row_number()
        .over(W.partitionBy().orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("r_bm25"),
    )
    emb = _t_wide(spark, sf_dir, "embeddings")
    # finite k is part of the DECLARED contract (mirrored in the
    # oracle's cs_top LIMIT) — not a silent cap: the r2 k=600 bug was
    # an UNDECLARED cap the oracle didn't share.
    cs = cosine_topk(
        emb,
        "vec_id",
        "embedding",
        query_filter=F.col("vec_id") == 0,
        k=_RRF_K,
    ).select(F.col("neighbor_id").alias("doc_id"), "cos_sim")
    csr = cs.select(
        "doc_id",
        F.row_number()
        .over(W.partitionBy().orderBy(F.desc("cos_sim"), F.asc("doc_id")))
        .alias("r_cos"),
    )
    fused = bmr.join(csr, "doc_id", "full_outer").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("r_bm25"), F.lit(0)).cast("long").alias("r_bm25"),
        F.coalesce(F.col("r_cos"), F.lit(0)).cast("long").alias("r_cos"),
        (
            F.coalesce(1.0 / (60 + F.col("r_bm25")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("r_cos")), F.lit(0.0))
        ).alias("rrf_raw"),
    )
    rrf = F.round(F.col("rrf_raw") * 1000000.0) / 1000000.0
    return (
        fused.orderBy(rrf.desc(), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "r_bm25", "r_cos", rrf.alias("rrf"))
    )


def _fd_sql(fd_name: str, table: str, lhs: str, rhs: str) -> str:
    return f"""
      SELECT '{fd_name}' AS fd,
             CAST(count(*) AS BIGINT) AS n_lhs_groups,
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             CAST(max(d) AS BIGINT) AS max_rhs_distinct
      FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS d
            FROM {table} GROUP BY {lhs})"""


@q(
    "fd_violation_audit",
    f"""
    SELECT * FROM (
    {_fd_sql("n_nationkey->n_name", "nation", "n_nationkey", "n_name")}
    UNION ALL
    {_fd_sql("o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey")}
    UNION ALL
    {_fd_sql("user_id->event_type", "events", "user_id", "event_type")}
    ) ORDER BY fd
    """,
)
def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling: for each candidate FD X→Y,
    count the X-groups whose Y is not unique — the audit that
    validates assumed keys/dependencies before a pipeline relies on
    them (the first two FDs must hold by schema; user_id→event_type is
    the deliberately-violated control proving the detector detects).
    Each FD is one distinct-count aggregate collapsed to a single row;
    the union is 3 rows. At 100 TB each check is one map-combined
    shuffle on X — the same shape as any keyed distinct count, and
    checks share nothing so they parallelize as independent stages."""

    def fd(fd_name: str, table: str, lhs: str, rhs: str) -> DataFrame:
        t = _t(spark, sf_dir, table)
        g = t.groupBy(lhs).agg(F.countDistinct(rhs).alias("d"))
        return g.agg(
            F.lit(fd_name).alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_lhs_groups"),
            F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
            F.max("d").cast("long").alias("max_rhs_distinct"),
        )

    return (
        fd("n_nationkey->n_name", "nation", "n_nationkey", "n_name")
        .unionByName(fd("o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"))
        .unionByName(fd("user_id->event_type", "events", "user_id", "event_type"))
        .orderBy("fd")
    )


@q(
    "audience_overlap_matrix",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON b.user_id = a.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
           round((i.n_both * 10000.0 / (sa.n + sb.n - i.n_both))) / 10000.0
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    ORDER BY type_a, type_b
    """,
)
def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap: for every event-type pair, the exact
    user-set intersection and Jaccard — the 'do these segments reach
    the same people' readout behind budget dedup and exposure
    planning. Scale shape: ONE distinct over (user, type) — the only
    fact-sized shuffle — then a user-key self-join whose fan-out per
    user is bounded by the type vocabulary (≤ |types| per user, so
    pairs ≤ n·|types|²/2, linear in users); sizes are a marginal of
    the same distinct frame, broadcast back onto the |types|²-bounded
    intersection counts. Jaccard uses scale-then-divide over exact
    integer counts."""
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select(
        F.col("user_id").alias("uid2"), F.col("event_type").alias("type_b")
    )
    inter = (
        a.join(
            b,
            (F.col("user_id") == F.col("uid2"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (
                F.round(
                    F.col("n_both")
                    * 10000.0
                    / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
                )
                / 10000.0
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@q(
    "split_leakage_audit",
    f"""
    WITH {{shingle}},
    {{tail}}
    , sp AS (
      SELECT doc_id, CASE WHEN {{byte}} < 204 THEN 'train'
                          WHEN {{byte}} < 230 THEN 'val'
                          ELSE 'test' END AS split
      FROM documents
    )
    SELECT least(a.split, b.split) AS split_a,
           greatest(a.split, b.split) AS split_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN p.jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs_j50
    FROM pairs p
    JOIN sp a ON a.doc_id = p.id_a
    JOIN sp b ON b.doc_id = p.id_b
    GROUP BY least(a.split, b.split), greatest(a.split, b.split)
    ORDER BY split_a, split_b
    """.format(
        shingle=_SHINGLE_CTE.strip(),
        tail=_near_dup_tail(band_size=2, as_cte=True).strip(),
        byte=_SPLIT_BYTE,
    ),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: near-duplicate pairs bucketed by the
    split pair their members land in — the contamination check every
    eval pipeline needs, because a test doc whose near-dup sits in
    train inflates benchmarks exactly like direct contamination
    (`doc_contamination_overlap` checks corpus-vs-benchmark; this
    checks WITHIN-corpus across the split boundary). Composes the two
    existing deterministic machineries unchanged: salted-md5 split
    assignment and the MinHash/LSH near-dup pipeline — and because
    the split label is a PURE FUNCTION of the id, it's re-derived
    in-row on the pair frame directly (no label-table join at all; a
    corpus-sized label table couldn't broadcast at 100 TB). Cross-
    split rows (train≠test etc.) with jaccard ≥ 0.5 are the ones a
    production run would re-assign or drop."""
    from ..operators.dedup import near_duplicates
    from ..operators.sampling import hash_split

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3, band_size=2
    )
    lab = (
        hash_split(hash_split(pairs, "id_a").withColumnRenamed("split", "sp_a"),
                   "id_b")
        .withColumnRenamed("split", "sp_b")
    )
    return (
        lab.groupBy(
            F.least("sp_a", "sp_b").alias("split_a"),
            F.greatest("sp_a", "sp_b").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0))
            .cast("long")
            .alias("n_pairs_j50"),
        )
        .orderBy("split_a", "split_b")
    )


@q(
    "corpus_dedup_savings",
    """
    WITH h AS (
      SELECT source, md5(text) AS content_hash, doc_id, n_chars
      FROM documents
    ),
    keep AS (
      SELECT source, content_hash, min(doc_id) AS keeper,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(sum(n_chars) AS BIGINT) AS bytes_all,
             CAST(min(n_chars) AS BIGINT) AS bytes_keep
      FROM h GROUP BY source, content_hash
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(n_copies) AS BIGINT) AS n_docs,
           CAST(sum(n_copies) - count(*) AS BIGINT) AS n_removed,
           CAST(sum(bytes_all - bytes_keep) AS BIGINT) AS bytes_removed,
           round((CAST(sum(n_copies) - count(*) AS DOUBLE)
                  * 10000.0 / sum(n_copies))) / 10000.0 AS removal_rate
    FROM keep GROUP BY source ORDER BY source
    """,
)
def corpus_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI report: per source, how many docs and bytes exact
    content dedup removes (keep-first by min id; duplicate copies all
    share one n_chars, so bytes_removed = Σ(bytes_all − bytes_keep)
    exactly) — the number that justifies the dedup stage's cost to a
    pipeline owner and flags which ingestion sources re-crawl the
    same content. Shuffle carries (source, md5, id, length) — never
    bodies — then two map-combinable aggregates; removal_rate is
    exact-integer arithmetic under a display round."""
    docs = _t(spark, sf_dir, "documents")
    h = docs.select(
        "source", F.md5("text").alias("content_hash"), "doc_id", "n_chars"
    )
    keep = h.groupBy("source", "content_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.sum("n_chars").cast("long").alias("bytes_all"),
        F.min("n_chars").cast("long").alias("bytes_keep"),
    )
    return (
        keep.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_unique"),
            F.sum("n_copies").cast("long").alias("n_docs"),
            (F.sum("n_copies") - F.count(F.lit(1))).cast("long").alias("n_removed"),
            F.sum(F.col("bytes_all") - F.col("bytes_keep"))
            .cast("long")
            .alias("bytes_removed"),
            (
                F.round(
                    (F.sum("n_copies") - F.count(F.lit(1))).cast("double")
                    * 10000.0
                    / F.sum("n_copies")
                )
                / 10000.0
            ).alias("removal_rate"),
        )
        .orderBy("source")
    )
