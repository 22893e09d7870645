"""Fourteenth-batch declared queries: density-based spatial
clustering, multi-touch attribution, annotator agreement, and
decomposable inequality.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - DBSCAN-lite grid-density clustering (dense cells + unrolled
   min-label propagation over the 8-neighborhood)
 - position-based (40/20/40) multi-touch attribution — the
   journey-aware sibling of last-touch
 - Cohen's kappa agreement between two rule labelers (the
   chance-corrected metric annotation pipelines report)
 - Theil index decomposed into between-nation and within-nation
   inequality (the decomposability Gini lacks)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.sampling import _md5_uint16
from .registry import _hex_int_sql, _t, q
from ..sources.catalog import gated_broadcast

_CELL = 10.0  # degrees; coarse enough that dense cells exist at test SFs
_MIN_PTS = 4


def _dbscan_iter_sql(prev: str, name: str) -> str:
    return f"""
    {name} AS (
      SELECT d.cid, min(least(p2.lbl, p1.lbl)) AS lbl
      FROM dense d
      JOIN {prev} p1 ON p1.cid = d.cid
      JOIN adj a ON a.cid = d.cid
      JOIN {prev} p2 ON p2.cid = a.nid
      GROUP BY d.cid
    )"""


@q(
    "customer_grid_density_clusters",
    f"""
    WITH pts AS (
      SELECT c_custkey,
             CAST(floor(({_hex_int_sql("md5('clat:' || CAST(c_custkey AS VARCHAR))", 4)}
                          / 65536.0 * 180.0 - 90.0) / {_CELL}) AS BIGINT) AS cy,
             CAST(floor(({_hex_int_sql("md5('clon:' || CAST(c_custkey AS VARCHAR))", 4)}
                          / 65536.0 * 360.0 - 180.0) / {_CELL}) AS BIGINT) AS cx
      FROM customer
    ),
    dense AS (
      SELECT cy, cx, cy * 1000 + cx AS cid, CAST(count(*) AS BIGINT) AS n_pts
      FROM pts GROUP BY cy, cx HAVING count(*) >= {_MIN_PTS}
    ),
    adj AS (
      SELECT d.cid, n.cid AS nid
      FROM dense d
      CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
      CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)
      JOIN dense n ON n.cy = d.cy + dy.dy AND n.cx = d.cx + dx.dx
    ),
    l0 AS (SELECT cid, cid AS lbl FROM dense),
    {_dbscan_iter_sql("l0", "l1")},
    {_dbscan_iter_sql("l1", "l2")},
    {_dbscan_iter_sql("l2", "l3")}
    SELECT l3.lbl AS cluster_label,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(dense.n_pts) AS BIGINT) AS n_points
    FROM l3 JOIN dense ON dense.cid = l3.cid
    GROUP BY l3.lbl ORDER BY cluster_label
    """,
)
def customer_grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-lite density clustering on the synthetic customer
    coordinate plane: cells of a 10° grid holding ≥ 4 points are
    'dense' (core) cells, and touching dense cells merge into
    clusters via min-label propagation over the 8-neighborhood,
    unrolled for 3 iterations — the same fixed-iteration relational
    unrolling as `brand_copurchase_pagerank` (the full-convergence
    variant lives in `operators/graph.py::connected_components`).
    Convergence bound, precisely: min-label propagation advances ONE
    hop per sweep, so 3 sweeps fully label exactly the cells within
    graph distance ≤ 3 of their cluster's min-cid cell; a cluster
    whose min-label cell has eccentricity > 3 surfaces as multiple
    deterministic split labels (ADVICE r1 — still parity-safe since
    both engines run the identical unrolled program; delegate to
    connected_components when exact clusters matter). Scale
    shape: the point table aggregates once to the cell grid
    (map-side combinable); everything after — adjacency (9× explode
    equi-join), propagation joins — runs on the dense-cell frame,
    which is bounded by the grid, not the data. Noise points (sparse
    cells) drop out exactly as DBSCAN discards them."""
    cust = _t(spark, sf_dir, "customer")
    lat = (
        _md5_uint16(F.col("c_custkey"), salt="clat:").cast("double")
        / 65536.0 * 180.0 - 90.0
    )
    lon = (
        _md5_uint16(F.col("c_custkey"), salt="clon:").cast("double")
        / 65536.0 * 360.0 - 180.0
    )
    pts = cust.select(
        F.floor(lat / _CELL).cast("long").alias("cy"),
        F.floor(lon / _CELL).cast("long").alias("cx"),
    )
    dense = (
        pts.groupBy("cy", "cx")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pts"))
        .where(F.col("n_pts") >= _MIN_PTS)
        .withColumn("cid", F.col("cy") * 1000 + F.col("cx"))
    )
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    probe = (
        dense.select("cid", "cy", "cx")
        .withColumn("dy", off)
        .withColumn("dx", off)
        .select(
            "cid",
            (F.col("cy") + F.col("dy")).alias("ny"),
            (F.col("cx") + F.col("dx")).alias("nx"),
        )
    )
    adj = probe.join(
        dense.select(
            F.col("cid").alias("nid"),
            F.col("cy").alias("ny"),
            F.col("cx").alias("nx"),
        ),
        ["ny", "nx"],
    ).select("cid", "nid")
    lbl = dense.select("cid", F.col("cid").alias("lbl"))
    for _ in range(3):
        lbl = (
            dense.select("cid")
            .join(lbl.select(F.col("cid"), F.col("lbl").alias("own")), "cid")
            .join(adj, "cid")
            .join(
                lbl.select(
                    F.col("cid").alias("nid"), F.col("lbl").alias("nlbl")
                ),
                "nid",
            )
            .groupBy("cid")
            .agg(F.min(F.least(F.col("nlbl"), F.col("own"))).alias("lbl"))
        )
    return (
        lbl.join(dense.select("cid", "n_pts"), "cid")
        .groupBy(F.col("lbl").alias("cluster_label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n_pts").cast("long").alias("n_points"),
        )
        .orderBy("cluster_label")
    )


@q(
    "purchase_attribution_position",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
      FROM events
    ),
    t AS (
      SELECT user_id, event_type, us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY us ASC, event_id ASC) AS idx
      FROM e WHERE event_type <> 'purchase'
    ),
    p AS (SELECT user_id, us FROM e WHERE event_type = 'purchase'),
    joined AS (
      SELECT p.user_id, p.us AS p_us, t.event_type, t.idx,
             CAST(count(*) OVER (PARTITION BY p.user_id, p.us) AS BIGINT) AS c
      FROM p JOIN t ON t.user_id = p.user_id AND t.us < p.us
    ),
    credited AS (
      SELECT event_type,
             CASE WHEN c = 1 THEN 1.0
                  WHEN c = 2 THEN 0.5
                  WHEN idx = 1 OR idx = c THEN 0.4
                  ELSE 0.2 / (c - 2) END AS credit
      FROM joined
    )
    SELECT event_type AS channel,
           round(sum(credit) * 1000.0) / 1000.0 AS total_credit,
           CAST(count(*) AS BIGINT) AS n_credited_touches
    FROM credited GROUP BY event_type ORDER BY channel
    """,
)
def purchase_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution:
    each purchase spreads credit over ALL its prior touches — 40% to
    the first, 40% to the most recent, 20% split across the middle —
    the journey-aware sibling of `purchase_attribution_last_touch`
    (which a first-touch-heavy acquisition channel makes look
    worthless). The purchase×prior-touch join is user-local (both
    sides shuffle once on user_id; fan-out is bounded by per-user
    activity — real deployments sessionize first to cap it, exactly
    what `user_sessions` provides upstream). Touch ordinals come
    from one shared window; credits are exact rational arithmetic
    from integer positions, so per-channel sums agree across engines
    before the display round."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    t = ev.where(F.col("event_type") != "purchase").select(
        "user_id",
        "event_type",
        "us",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy(F.asc("us"), F.asc("event_id")))
        .alias("idx"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("us").alias("p_us")
    )
    joined = p.join(
        t, (t.user_id == F.col("p_user")) & (t.us < F.col("p_us"))
    ).select(
        "event_type",
        "idx",
        F.count(F.lit(1))
        .over(W.partitionBy("p_user", "p_us"))
        .cast("long")
        .alias("c"),
    )
    credit = (
        F.when(F.col("c") == 1, 1.0)
        .when(F.col("c") == 2, 0.5)
        .when((F.col("idx") == 1) | (F.col("idx") == F.col("c")), 0.4)
        .otherwise(0.2 / (F.col("c") - 2))
    )
    return (
        joined.select(F.col("event_type").alias("channel"), credit.alias("credit"))
        .groupBy("channel")
        .agg(
            (F.round(F.sum("credit") * 1000.0) / 1000.0).alias("total_credit"),
            F.count(F.lit(1)).cast("long").alias("n_credited_touches"),
        )
        .orderBy("channel")
    )


@q(
    "doc_labeler_agreement_kappa",
    """
    WITH feat AS (
      SELECT doc_id, CAST(n_chars AS DOUBLE) AS len,
             len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')) AS ttr
      FROM documents
    ),
    med AS (
      SELECT quantile_cont(len, 0.5) AS mlen, quantile_cont(ttr, 0.5) AS mttr
      FROM feat
    ),
    lab AS (
      SELECT CASE WHEN len >= med.mlen THEN 1 ELSE 0 END AS a,
             CASE WHEN ttr >= med.mttr THEN 1 ELSE 0 END AS b
      FROM feat, med
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(a * b) AS DOUBLE) AS n11,
             CAST(sum(a * (1 - b)) AS DOUBLE) AS n10,
             CAST(sum((1 - a) * b) AS DOUBLE) AS n01,
             CAST(sum((1 - a) * (1 - b)) AS DOUBLE) AS n00
      FROM lab
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(n11 AS BIGINT) AS n_both_pos, CAST(n00 AS BIGINT) AS n_both_neg,
           CAST(n10 AS BIGINT) AS n_only_a, CAST(n01 AS BIGINT) AS n_only_b,
           round(((n11 + n00) / n
                  - ((n11 + n10) / n * (n11 + n01) / n
                     + (n01 + n00) / n * (n10 + n00) / n))
                 / nullif(1.0 - ((n11 + n10) / n * (n11 + n01) / n
                                 + (n01 + n00) / n * (n10 + n00) / n), 0.0)
                 * 1000000.0) / 1000000.0 AS kappa
    FROM m
    """,
)
def doc_labeler_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two rule labelers — 'long document'
    (chars ≥ corpus median) vs 'lexically diverse' (type-token ratio
    ≥ its median) — the chance-corrected agreement metric annotation
    and weak-supervision pipelines report instead of raw percent
    agreement (two labelers that both say 'yes' 90% of the time
    agree 82% by pure chance). Features are in-row array math;
    thresholds are exact medians (order statistics — identical in
    both engines, the same trick as the MAD anomaly entries); the
    contingency table is ONE aggregate, and kappa is literal
    arithmetic over its four exact counts. The degenerate pe = 1
    case (a labeler all-constant) NULLs out via nullif instead of
    throwing under ANSI."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    feat = docs.select(
        F.col("n_chars").cast("double").alias("len"),
        (
            F.size(F.array_distinct(toks)) * 1.0 / F.size(toks)
        ).alias("ttr"),
    )
    med = feat.agg(
        F.percentile("len", F.lit(0.5)).alias("mlen"),
        F.percentile("ttr", F.lit(0.5)).alias("mttr"),
    )
    lab = feat.crossJoin(F.broadcast(med)).select(
        F.when(F.col("len") >= F.col("mlen"), 1).otherwise(0).alias("a"),
        F.when(F.col("ttr") >= F.col("mttr"), 1).otherwise(0).alias("b"),
    )
    m = lab.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("double").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("double").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("double").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("double").alias("n00"),
    )
    n, n11, n10 = F.col("n"), F.col("n11"), F.col("n10")
    n01, n00 = F.col("n01"), F.col("n00")
    po = (n11 + n00) / n
    pe = (n11 + n10) / n * (n11 + n01) / n + (n01 + n00) / n * (n10 + n00) / n
    kappa = (po - pe) / F.nullif(1.0 - pe, F.lit(0.0))
    return m.select(
        n.cast("long").alias("n_docs"),
        n11.cast("long").alias("n_both_pos"),
        n00.cast("long").alias("n_both_neg"),
        n10.cast("long").alias("n_only_a"),
        n01.cast("long").alias("n_only_b"),
        (F.round(kappa * 1000000.0) / 1000000.0).alias("kappa"),
    )


@q(
    "nation_theil_decomposition",
    """
    WITH rev AS (
      SELECT o.o_custkey,
             CAST(round(sum(o.o_totalprice) * 100.0) AS BIGINT) AS cents
      FROM orders o GROUP BY o.o_custkey
    ),
    x AS (
      SELECT n.n_name AS nation, rev.cents * 1.0 AS v
      FROM rev
      JOIN customer c ON c.c_custkey = rev.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
      SELECT nation, CAST(count(*) AS DOUBLE) AS ng, avg(v) AS mg
      FROM x GROUP BY nation
    ),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(v) AS mu FROM x),
    within AS (
      SELECT x.nation,
             sum((x.v / gg.mg) * ln(x.v / gg.mg)) / gg.ng AS tg
      FROM x JOIN (SELECT nation, ng, mg FROM g) gg ON gg.nation = x.nation
      GROUP BY x.nation, gg.ng, gg.mg
    )
    SELECT g.nation, CAST(g.ng AS BIGINT) AS n_customers,
           round(g.mg / 100.0 * 100.0) / 100.0 AS mean_rev_cents,
           round((g.ng / tot.n) * (g.mg / tot.mu) * w.tg * 1000000.0)
             / 1000000.0 AS theil_within_term,
           round((g.ng / tot.n) * (g.mg / tot.mu) * ln(g.mg / tot.mu)
                 * 1000000.0) / 1000000.0 AS theil_between_term
    FROM g JOIN within w ON w.nation = g.nation CROSS JOIN tot
    ORDER BY g.nation
    """,
)
def nation_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of customer revenue inequality, decomposed by
    nation: summing theil_within_term gives the inequality INSIDE
    nations, summing theil_between_term the inequality BETWEEN
    national means, and together they reconstruct the total — the
    additive decomposability that makes Theil (not Gini, which
    doesn't decompose) the tool for 'where does the inequality
    live?' questions. Revenue is cents-rounded per customer before
    any ratio, group means are the only fp aggregates feeding the
    logs, and output rows order by nation — floats stay in the
    rounded payload. Shape: one fact aggregate to customer grain,
    one group aggregate to nation grain, windows/joins over the
    |nation| frame only."""
    rev = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice") * 100.0).cast("long").alias("cents"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    x = (
        rev.join(gated_broadcast(c, sf_dir, "customer"), rev.o_custkey == c.c_custkey)
        .join(F.broadcast(nat), c.c_nationkey == nat.n_nationkey)
        .select(F.col("n_name").alias("nation"), (F.col("cents") * 1.0).alias("v"))
    )
    g = x.groupBy("nation").agg(
        F.count(F.lit(1)).cast("double").alias("ng"), F.avg("v").alias("mg")
    )
    tot = x.agg(F.count(F.lit(1)).cast("double").alias("n"), F.avg("v").alias("mu"))
    within = (
        x.join(F.broadcast(g), "nation")
        .groupBy("nation", "ng", "mg")
        .agg(
            (
                F.sum((F.col("v") / F.col("mg")) * F.log(F.col("v") / F.col("mg")))
                / F.col("ng")
            ).alias("tg")
        )
        .select("nation", "tg")
    )
    return (
        g.join(within, "nation")
        .crossJoin(F.broadcast(tot))
        .select(
            "nation",
            F.col("ng").cast("long").alias("n_customers"),
            (F.round(F.col("mg") / 100.0 * 100.0) / 100.0).alias("mean_rev_cents"),
            (
                F.round(
                    (F.col("ng") / F.col("n"))
                    * (F.col("mg") / F.col("mu"))
                    * F.col("tg")
                    * 1000000.0
                )
                / 1000000.0
            ).alias("theil_within_term"),
            (
                F.round(
                    (F.col("ng") / F.col("n"))
                    * (F.col("mg") / F.col("mu"))
                    * F.log(F.col("mg") / F.col("mu"))
                    * 1000000.0
                )
                / 1000000.0
            ).alias("theil_between_term"),
        )
        .orderBy("nation")
    )
