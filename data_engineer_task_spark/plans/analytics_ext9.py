"""Tenth-batch declared queries: interval concurrency, path mining,
rank correlation, contrastive negatives, and hierarchical shares.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - sweep-line peak concurrency over activity intervals (the classic
   endpoints-fan-out that replaces an interval self-join)
 - per-user event-path trigram mining (3-step journey patterns — the
   deeper sibling of the 1-step `event_transition_matrix`)
 - Spearman rank correlation with proper average-rank ties
 - deterministic negative-pair sampling for contrastive training
   (hash-ring offsets — no rand(), no cross join)
 - percent-of-parent hierarchical revenue shares (ratio_to_report)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.sampling import _md5_uint16
from .registry import _hex_int_sql, _t, q
from ..sources.catalog import gated_broadcast


@q(
    "peak_concurrent_users_daily",
    """
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS us,
             CAST((epoch_ns(ts) // 1000 // 86400000000) AS BIGINT) AS day
      FROM events
    ),
    iv AS (
      SELECT user_id, day, min(us) AS s_us, max(us) AS e_us
      FROM e GROUP BY user_id, day
    ),
    pts AS (
      SELECT day, s_us AS us, 1 AS delta, user_id FROM iv
      UNION ALL
      SELECT day, e_us, -1, user_id FROM iv
    ),
    run AS (
      SELECT day,
             sum(delta) OVER (PARTITION BY day
                              ORDER BY us ASC, delta ASC, user_id ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS conc
      FROM pts
    )
    SELECT r.day, CAST(max(r.conc) AS BIGINT) AS peak_concurrent,
           CAST(n.n AS BIGINT) AS n_users
    FROM run r
    JOIN (SELECT day, count(*) AS n FROM iv GROUP BY day) n ON n.day = r.day
    GROUP BY r.day, n.n ORDER BY r.day
    """,
)
def peak_concurrent_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous active users per day, where a user's daily
    activity interval spans their first to last event that day — the
    sweep-line decomposition: each interval fans out to a +1 start
    and a −1 end point, one ordered running sum per day gives the
    concurrency curve, its max is the peak. This replaces the naive
    interval×interval overlap self-join (quadratic) with 2 points
    per interval and one day-partitioned window — the same shape
    holds for sessions vs capacity, connections vs limits, jobs vs
    slots. The endpoint order is total (us, delta, user_id; ends
    sort before starts at the same instant, so touching intervals
    don't double-count) — both engines walk the identical sequence
    over exact integers. Two key shuffles total: the per-(user, day)
    interval build and the per-day sweep."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    ).withColumn(
        "day",
        ((F.col("us") - F.col("us") % 86400000000) / 86400000000).cast("long"),
    )
    iv = ev.groupBy("user_id", "day").agg(
        F.min("us").alias("s_us"), F.max("us").alias("e_us")
    )
    pts = iv.select(
        "day", F.col("s_us").alias("us"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        iv.select(
            "day", F.col("e_us").alias("us"), F.lit(-1).alias("delta"), "user_id"
        )
    )
    w = (
        W.partitionBy("day")
        .orderBy(F.asc("us"), F.asc("delta"), F.asc("user_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = pts.select("day", F.sum("delta").over(w).alias("conc"))
    nday = iv.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    return (
        run.groupBy("day")
        .agg(F.max("conc").cast("long").alias("peak_concurrent"))
        .join(F.broadcast(nday), "day")
        .select("day", "peak_concurrent", F.col("n").cast("long").alias("n_users"))
        .orderBy("day")
    )


@q(
    "event_path_trigrams",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
      FROM events
    ),
    seq AS (
      SELECT user_id, event_type AS w1,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY us ASC, event_id ASC) AS w2,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY us ASC, event_id ASC) AS w3
      FROM e
    )
    SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE w3 IS NOT NULL
    GROUP BY w1, w2, w3
    ORDER BY n_paths DESC, w1 ASC, w2 ASC, w3 ASC
    LIMIT 15
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step user journeys: sliding trigrams over each
    user's time-ordered event sequence (two leads over ONE shared
    window spec = one user-key shuffle), counted corpus-wide — the
    depth-3 sibling of `event_transition_matrix` and the
    product-analytics 'path analysis' primitive. event_id breaks
    timestamp ties so the sequence is a total order in both engines;
    the result set is ≤ |types|³ cells, counted with map-side
    combine. Top-15 ordering is exact-integer counts with full
    lexicographic tie-breaks."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = W.partitionBy("user_id").orderBy(F.asc("us"), F.asc("event_id"))
    seq = ev.select(
        F.col("event_type").alias("w1"),
        F.lead("event_type", 1).over(w).alias("w2"),
        F.lead("event_type", 2).over(w).alias("w3"),
    )
    return (
        seq.where(F.col("w3").isNotNull())
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("w1"), F.asc("w2"), F.asc("w3"))
        .limit(15)
    )


@q(
    "order_acctbal_spearman",
    """
    WITH pairs AS (
      SELECT o.o_totalprice AS x, c.c_acctbal AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    ranked AS (
      SELECT
        rank() OVER (ORDER BY x ASC)
          + (CAST(count(*) OVER (PARTITION BY x) AS DOUBLE) - 1.0) / 2.0 AS rx,
        rank() OVER (ORDER BY y ASC)
          + (CAST(count(*) OVER (PARTITION BY y) AS DOUBLE) - 1.0) / 2.0 AS ry
      FROM pairs
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(rx) AS sx, sum(ry) AS sy,
             sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
             sum(rx * ry) AS sxy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 1000000.0) / 1000000.0 AS spearman_rho
    FROM m
    """,
)
def order_acctbal_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order price and the ordering
    customer's account balance — the robust (monotonic, outlier-proof)
    sibling of the Pearson `priority_price_dispersion` entry. Ties get
    proper AVERAGE ranks — and an average rank is a pure function of
    the VALUE: avg_rank(v) = before(v) + (count(v)+1)/2, where
    before(v) counts rows with a strictly smaller value. So the plan
    never ranks rows at all: it rolls the pair frame up per distinct
    value (one map-side-combinable aggregate), adds exclusive prefix
    COUNTS over the value frame via ``ordered_prefix`` (range-bucket
    two-level — no single-partition window; the r4 allowlist's
    documented swap, now landed), and joins the per-value rank back
    map-only. before/count are exact integers; the +/2 halves are
    exact in doubles, so both engines assign identical ranks. The rho
    itself is the moment-decomposed Pearson over ranks: one final
    aggregate of five sums, map-side combined."""
    from ..operators.ranking import ordered_prefix

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    # persisted (ADVICE r5): both _avg_ranks value rollups, their
    # ordered_prefix aux jobs, and the final double rank join all
    # re-execute the orders⋈customer join otherwise.
    pairs = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_totalprice").alias("x"), F.col("c_acctbal").alias("y")
    ).persist()
    def _avg_ranks(col: str, out: str):
        # Both variables' per-value rollups ride ONE tagged frame and
        # ONE partitioned ordered_prefix call (r6): the prefix counts
        # restart per tag, so each variable gets its own average
        # ranks, and the whole rank build costs a single
        # approx-percentile aux job (the per-(tag, bucket) offsets are
        # in-plan broadcast joins).
        return pairs.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("_c")
        ).select(F.lit(out).alias("_t"), F.col(col).alias("_val"), "_c")

    u = _avg_ranks("x", "rx").unionByName(_avg_ranks("y", "ry")).persist()
    pre = ordered_prefix(
        u, "_val", rank_col=None, sums={"_before": "_c"}, buckets=32,
        partition_by=["_t"],
    )
    avg_rank = (
        F.col("_before").cast("double")
        + (F.col("_c").cast("double") + 1.0) / 2.0
    )
    rx = pre.where(F.col("_t") == "rx").select(
        F.col("_val").alias("x"), avg_rank.alias("rx")
    )
    ry = pre.where(F.col("_t") == "ry").select(
        F.col("_val").alias("y"), avg_rank.alias("ry")
    )
    ranked = pairs.join(rx, "x").join(ry, "y").select("rx", "ry")
    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    rho = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("n").cast("long").alias("n_pairs"),
        (F.round(rho * 1000000.0) / 1000000.0).alias("spearman_rho"),
    )


@q(
    "doc_negative_pairs",
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             row_number() OVER (ORDER BY doc_id ASC) - 1 AS rn
      FROM documents
    ),
    cnt AS (SELECT count(*) AS n FROM d),
    anchors AS (
      SELECT d.doc_id, d.lang, d.rn, k.k,
             (d.rn + ({_hex_int_sql("md5('neg:' || CAST(doc_id AS VARCHAR) || ':' || CAST(k.k AS VARCHAR))", 4)})
                      % (cnt.n - 1) + 1) % cnt.n AS neg_rn
      FROM d CROSS JOIN cnt CROSS JOIN (VALUES (1), (2)) k(k)
    )
    SELECT a.doc_id, a.k, d2.doc_id AS neg_doc_id,
           CASE WHEN a.lang = d2.lang THEN 1 ELSE 0 END AS same_lang
    FROM anchors a JOIN d d2 ON d2.rn = a.neg_rn
    ORDER BY a.doc_id, a.k
    """,
)
def doc_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document draws 2 'random' negatives by hopping a salted-md5
    offset around the doc_id-ordered ring (offset in [1, N−1], so a
    doc never draws itself and every draw is reproducible across
    runs, partitionings, and engines — the property rand() negatives
    lose under task retries, the classic silent-contrastive-leak).
    The join back is rn → neg_rn, a plain key equi-join; same_lang
    marks in-batch 'hard' negatives for loss weighting. The ring
    position comes from ``ordered_prefix`` (range-bucket two-level
    rank — approx-cut placement, exact-integer offsets), so no task
    ever sorts the whole corpus (the r4 allowlist's documented swap,
    now landed); the ring-hop algebra is unchanged."""
    from ..operators.ranking import ordered_prefix

    d = ordered_prefix(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        "doc_id",
        rank_col="_rk",
        buckets=32,
    ).select("doc_id", "lang", (F.col("_rk") - 1).alias("rn"))
    cnt = d.agg(F.count(F.lit(1)).alias("n"))
    ks = F.explode(F.array(F.lit(1), F.lit(2))).alias("k")
    h = _md5_uint16(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("k").cast("string")
        ),
        salt="neg:",
    )
    anchors = (
        d.crossJoin(F.broadcast(cnt))
        .select("doc_id", "lang", "rn", "n", ks)
        .withColumn(
            "neg_rn", (F.col("rn") + h % (F.col("n") - 1) + 1) % F.col("n")
        )
    )
    d2 = d.select(
        F.col("rn").alias("neg_rn"),
        F.col("doc_id").alias("neg_doc_id"),
        F.col("lang").alias("neg_lang"),
    )
    return (
        anchors.join(d2, "neg_rn")
        .select(
            "doc_id",
            "k",
            "neg_doc_id",
            F.when(F.col("lang") == F.col("neg_lang"), 1).otherwise(0).alias(
                "same_lang"
            ),
        )
        .orderBy("doc_id", "k")
    )


@q(
    "nation_revenue_share",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum(o.o_totalprice) AS rev,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation, n_orders,
           round(rev * 100.0) / 100.0 AS revenue,
           round(rev / sum(rev) OVER (PARTITION BY region) * 1000000.0)
             / 1000000.0 AS share_of_region,
           CAST(rank() OVER (PARTITION BY region
                             ORDER BY round(rev * 100.0) / 100.0 DESC,
                                      nation ASC) AS BIGINT) AS rank_in_region
    FROM rev ORDER BY region, nation
    """,
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent hierarchical shares (the ratio_to_report
    family): each nation's slice of its region's revenue plus its
    in-region rank — the drill-down companion to the flat
    `revenue_by_nation` and `order_stats_rollup` entries. One fact
    aggregate collapses to the |nation|-bounded frame; the parent
    total and rank are windows over that tiny frame (never a second
    fact pass or a self-join on the parent). Rank orders by the
    CENTS-ROUNDED revenue with the nation name as tie-break, so fp
    summation-order noise can't reorder ranks between engines."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(gated_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum("o_totalprice").alias("rev"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    wreg = W.partitionBy("region")
    rev_cents = F.round(F.col("rev") * 100.0) / 100.0
    return (
        rev.select(
            "region",
            "nation",
            "n_orders",
            rev_cents.alias("revenue"),
            (
                F.round(F.col("rev") / F.sum("rev").over(wreg) * 1000000.0)
                / 1000000.0
            ).alias("share_of_region"),
            F.rank()
            .over(wreg.orderBy(rev_cents.desc(), F.asc("nation")))
            .cast("long")
            .alias("rank_in_region"),
        )
        .orderBy("region", "nation")
    )
