"""Nineteenth-batch declared queries: ratio-metric inference, aging
reports, and ties-inclusive top-k.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - delta-method standard error for a RATIO metric per A/B variant
   (revenue-per-click is not a mean of user values — naive SEs on
   ratios are simply wrong; the delta method is the standard fix)
 - open-order aging buckets (the AR-style 0-30/31-60/61-90/90+
   operational report)
 - ties-INCLUSIVE top-k per group via RANK (the semantics row_number
   top-k silently violates when values tie at the cut)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.sampling import _md5_byte0
from .registry import _AB_VARIANT_SQL, _t, q


@q(
    "ab_ratio_metric_delta",
    f"""
    WITH u AS (
      SELECT user_id, {_AB_VARIANT_SQL} AS variant,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x,
             round(sum(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0 END) * 1000000.0) / 1000000.0 AS y
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT variant, CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM u GROUP BY variant
    )
    SELECT variant, CAST(n AS BIGINT) AS n_users,
           round(sy / nullif(sx, 0.0) * 1000000.0) / 1000000.0
             AS revenue_per_click,
           round(sqrt(((syy - sy * sy / n)
                       - 2.0 * (sy / nullif(sx, 0.0)) * (sxy - sx * sy / n)
                       + (sy / nullif(sx, 0.0)) * (sy / nullif(sx, 0.0))
                         * (sxx - sx * sx / n))
                      / (n - 1.0))
                 / (sx / n) / sqrt(n) * 1000000.0) / 1000000.0 AS delta_se
    FROM m ORDER BY variant
    """,
)
def ab_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method inference for a ratio metric — revenue per click,
    per A/B variant (same 'ab:' hash assignment as the other
    experiment entries): the metric is ΣY/ΣX across users, NOT a
    mean of per-user values, so its standard error needs the delta
    method, SE(R) = √(S_yy − 2R·S_yx + R²·S_xx) / (x̄·√n) with S the
    per-user sample (co)variances — the correction every
    experimentation platform applies to ratio metrics (a naive
    per-user-mean SE is biased whenever X varies). Per-user X is an
    exact count and Y quantizes at 1e-6, so the one grouped moment
    aggregate per variant feeds bit-identical sums to the closed
    expression; zero-click arms NULL out via nullif."""
    ev = _t(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("double")
            .alias("x"),
            (
                F.round(
                    F.sum(
                        F.when(
                            F.col("event_type") == "purchase", F.col("value")
                        ).otherwise(0)
                    )
                    * 1000000.0
                )
                / 1000000.0
            ).alias("y"),
        )
        .select(
            F.when(_md5_byte0(F.col("user_id"), salt="ab:") % 2 == 0, "A")
            .otherwise("B")
            .alias("variant"),
            "x",
            "y",
        )
    )
    m = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    r = F.col("sy") / F.nullif(F.col("sx"), F.lit(0.0))
    se = (
        F.sqrt(
            (
                (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
                - 2.0 * r * (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
                + r * r * (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            )
            / (F.col("n") - 1.0)
        )
        / (F.col("sx") / F.col("n"))
        / F.sqrt(F.col("n"))
    )
    return m.select(
        "variant",
        F.col("n").cast("long").alias("n_users"),
        (F.round(r * 1000000.0) / 1000000.0).alias("revenue_per_click"),
        (F.round(se * 1000000.0) / 1000000.0).alias("delta_se"),
    ).orderBy("variant")


@q(
    "open_order_aging_buckets",
    """
    WITH ref AS (SELECT max(o_orderdate) AS r FROM orders),
    aged AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents,
             date_diff('day', o_orderdate, ref.r) AS age
      FROM orders, ref WHERE o_orderstatus <> 'F'
    )
    SELECT o_orderpriority,
           CASE WHEN age <= 30 THEN '0-30'
                WHEN age <= 60 THEN '31-60'
                WHEN age <= 90 THEN '61-90'
                ELSE '90+' END AS age_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS open_cents
    FROM aged GROUP BY o_orderpriority, 2
    ORDER BY o_orderpriority, age_bucket
    """,
)
def open_order_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging report: unfinished orders bucketed by days
    outstanding relative to the data horizon (0-30/31-60/61-90/90+),
    with counts and open value per priority — the accounts-
    receivable-style operational report every order book needs
    (where is old value stuck, and at what priority). Ages are exact
    integer day differences from the broadcast horizon date; value
    is per-ROW cents-rounded before summing so the bucket totals are
    exact integers. One fact aggregate; at 100 TB the same plan
    holds with the horizon from metadata instead of a max() scan."""
    o = _t(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("r"))
    aged = (
        o.where(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(ref))
        .select(
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
            F.datediff(F.col("r"), F.col("o_orderdate")).alias("age"),
        )
    )
    bucket = (
        F.when(F.col("age") <= 30, "0-30")
        .when(F.col("age") <= 60, "31-60")
        .when(F.col("age") <= 90, "61-90")
        .otherwise("90+")
    )
    return (
        aged.groupBy("o_orderpriority", bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("open_cents"),
        )
        .orderBy("o_orderpriority", "age_bucket")
    )


@q(
    "brand_top_parts_with_ties",
    """
    WITH priced AS (
      SELECT p_brand, p_partkey,
             CAST(round(p_retailprice * 100.0) AS BIGINT) AS cents
      FROM part
    ),
    ranked AS (
      SELECT p_brand, p_partkey, cents,
             rank() OVER (PARTITION BY p_brand ORDER BY cents DESC) AS rk
      FROM priced
    )
    SELECT p_brand, CAST(rk AS BIGINT) AS price_rank, p_partkey,
           round(cents / 100.0 * 100.0) / 100.0 AS retail_price
    FROM ranked WHERE rk <= 3
    ORDER BY p_brand, price_rank, p_partkey
    """,
)
def brand_top_parts_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ties-INCLUSIVE top-3 parts per brand by retail price, via
    RANK — deliberately different semantics from
    `top_orders_per_priority`'s row_number top-k: when prices tie at
    the cut, rank keeps EVERY tied part (no arbitrary winner), which
    is what 'top 3 prices' actually means for reporting and what
    row_number silently violates. Prices compare as exact cents
    integers, so tie groups are engine-identical; output cardinality
    varies with the data (that's the point). Same
    WindowGroupLimit-eligible single-window shape as the row_number
    variant."""
    priced = _t(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        F.round(F.col("p_retailprice") * 100.0).cast("long").alias("cents"),
    )
    ranked = priced.select(
        "p_brand",
        "p_partkey",
        "cents",
        F.rank()
        .over(W.partitionBy("p_brand").orderBy(F.desc("cents")))
        .alias("rk"),
    )
    return (
        ranked.where(F.col("rk") <= 3)
        .select(
            "p_brand",
            F.col("rk").cast("long").alias("price_rank"),
            "p_partkey",
            (F.round(F.col("cents") / 100.0 * 100.0) / 100.0).alias(
                "retail_price"
            ),
        )
        .orderBy("p_brand", "price_rank", "p_partkey")
    )
