"""Eleventh-batch declared queries: forecast backtesting, pro-rata
allocation, time-series interpolation, and golden-record survivorship.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - seasonal-naive forecast backtest (lag-7 daily prediction, MAE /
   MAPE per series — the baseline every forecasting model must beat)
 - largest-remainder pro-rata budget allocation (integer-cent
   allocation that reconciles EXACTLY to the parent total)
 - linear interpolation gap fill over an hourly spine (the
   between-neighbors sibling of LOCF forward fill)
 - MDM golden-record survivorship (per-field latest-non-null merge
   of duplicate source records via max_by / arg_max)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import _t, q
from ..sources.catalog import gated_broadcast


@q(
    "event_seasonal_naive_backtest",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day,
             sum(value) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, day
    ),
    pred AS (
      SELECT a.event_type, a.day, a.v, b.v AS p
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day = a.day - 7
    )
    SELECT event_type,
           CAST(count(p) AS BIGINT) AS n_days_evaluated,
           round(avg(abs(v - p)) * 1000.0) / 1000.0 AS mae,
           round(avg(abs(v - p) / v) * 1000000.0) / 1000000.0 AS mape
    FROM pred WHERE p IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def event_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest of the seasonal-naive baseline: predict each
    day's total value per event type as the value from 7 CALENDAR days
    earlier (same weekday), and score MAE / MAPE over the evaluable
    days — the no-skill baseline every real forecaster must beat, and
    the standard way to quantify weekly seasonality strength. The
    prediction comes from a day-offset SELF-JOIN (day = day − 7), not
    `lag(v, 7)`: a 7-ROW window offset silently stops meaning "same
    weekday" the moment the observed calendar has gaps (ADVICE r1;
    same reasoning as event_daily_acf's day-offset join — a days
    without a day-7 predecessor simply drop out of the backtest). One
    fact aggregate collapses to the |types|×|days| frame; the join and
    error rollup run over that tiny frame (the fact table is scanned
    once). MAPE is safe under ANSI division because evaluated days
    have v > 0 by construction (a day appears only if it had events;
    values are positive)."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .withColumn(
            "day",
            ((F.col("us") - F.col("us") % 86400000000) / 86400000000).cast(
                "long"
            ),
        )
    )
    daily = ev.groupBy("event_type", "day").agg(F.sum("value").alias("v"))
    # Alias-to-self mints fresh expression ids so the self-join keys
    # don't collapse (CLAUDE.md cogroup/self-join pitfall).
    prior = daily.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("day2"),
        F.col("v").alias("p"),
    )
    pred = daily.join(
        prior,
        (F.col("et2") == F.col("event_type"))
        & (F.col("day2") == F.col("day") - 7),
    ).select("event_type", "v", "p")
    return (
        pred.groupBy("event_type")
        .agg(
            F.count("p").cast("long").alias("n_days_evaluated"),
            (F.round(F.avg(F.abs(F.col("v") - F.col("p"))) * 1000.0) / 1000.0)
            .alias("mae"),
            (
                F.round(
                    F.avg(F.abs(F.col("v") - F.col("p")) / F.col("v"))
                    * 1000000.0
                )
                / 1000000.0
            ).alias("mape"),
        )
        .orderBy("event_type")
    )


@q(
    "region_budget_allocation",
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
    base AS (
      SELECT region, nation, rev_c,
             sum(rev_c) OVER (PARTITION BY region) AS tot_c,
             floor(100000000.0 * rev_c / sum(rev_c) OVER (PARTITION BY region))
               AS base_cents,
             100000000.0 * rev_c / sum(rev_c) OVER (PARTITION BY region)
               - floor(100000000.0 * rev_c
                       / sum(rev_c) OVER (PARTITION BY region)) AS frac
      FROM rev
    ),
    ranked AS (
      SELECT base.*,
             rank() OVER (PARTITION BY region
                          ORDER BY frac DESC, nation ASC) AS rk,
             100000000 - sum(base_cents) OVER (PARTITION BY region) AS leftover
      FROM base
    )
    SELECT region, nation,
           round((base_cents + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                 / 100.0 * 100.0) / 100.0 AS alloc,
           CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS got_extra_cent
    FROM ranked ORDER BY region, nation
    """,
)
def region_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder pro-rata allocation: a 1,000,000.00 budget
    per region is split across its nations proportionally to revenue,
    in integer cents, with the floor-division shortfall handed out
    one cent at a time to the largest fractional remainders — so
    every region's allocations sum to the target EXACTLY (the
    reconciliation property naive share×target rounding loses, and
    the same algorithm as parliamentary seat apportionment). Shares
    are computed from CENTS-ROUNDED revenue, so every downstream
    floor/frac/rank is arithmetic over doubles both engines agree on
    bit-for-bit — no fp-noise boundary can flip a cent. All windows
    run over the |nation|-bounded frame after one fact aggregate."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(gated_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg((F.round(F.sum("o_totalprice") * 100.0) / 100.0).alias("rev_c"))
    )
    wreg = W.partitionBy("region")
    target_cents = 100000000.0  # 1,000,000.00 per region, in cents
    exact = target_cents * F.col("rev_c") / F.sum("rev_c").over(wreg)
    base = rev.select(
        "region",
        "nation",
        F.floor(exact).alias("base_cents"),
        (exact - F.floor(exact)).alias("frac"),
    )
    ranked = base.select(
        "region",
        "nation",
        "base_cents",
        F.rank()
        .over(wreg.orderBy(F.desc("frac"), F.asc("nation")))
        .alias("rk"),
        (F.lit(100000000) - F.sum("base_cents").over(wreg)).alias("leftover"),
    )
    extra = F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    return (
        ranked.select(
            "region",
            "nation",
            (
                F.round((F.col("base_cents") + extra) / 100.0 * 100.0) / 100.0
            ).alias("alloc"),
            extra.cast("long").alias("got_extra_cent"),
        )
        .orderBy("region", "nation")
    )


@q(
    "event_hourly_interpolation",
    """
    WITH obs AS (
      SELECT event_type,
             CAST(epoch_ns(ts) // 1000 // 3600000000 AS BIGINT) AS hr,
             avg(value) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, hr
    ),
    bounds AS (
      SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM obs GROUP BY event_type
    ),
    spine AS (
      SELECT b.event_type, unnest(range(b.mn, b.mx + 1)) AS hr FROM bounds b
    ),
    j AS (
      SELECT s.event_type, s.hr, o.v FROM spine s
      LEFT JOIN obs o ON o.event_type = s.event_type AND o.hr = s.hr
    ),
    n AS (
      SELECT j.*,
        last_value(v IGNORE NULLS) OVER w_prev AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
          OVER w_prev AS ph,
        first_value(v IGNORE NULLS) OVER w_next AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
          OVER w_next AS nh
      FROM j
      WINDOW
        w_prev AS (PARTITION BY event_type ORDER BY hr ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY event_type ORDER BY hr ASC
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    filled AS (
      SELECT event_type, hr,
             CASE WHEN v IS NOT NULL THEN v
                  ELSE pv + (nv - pv) * (hr - ph) / (nh - ph) END AS fv,
             CASE WHEN v IS NULL THEN 1 ELSE 0 END AS interp
      FROM n
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(interp) AS BIGINT) AS n_interpolated,
           round(sum(fv) * 1000.0) / 1000.0 AS filled_sum,
           round(avg(fv) * 1000000.0) / 1000000.0 AS filled_avg
    FROM filled GROUP BY event_type ORDER BY event_type
    """,
)
def event_hourly_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation gap fill: the hourly mean-value series per
    event type has ~5% missing hours; each gap hour is filled by the
    straight line between its nearest observed neighbors
    (pv + (nv−pv)·(h−ph)/(nh−ph)) — the between-neighbors sibling of
    `user_event_locf_fill` (LOCF carries stale values into gaps;
    interpolation splits the difference, the usual choice for
    physical/metric series). Spine generation is an in-row
    `sequence`/explode per type (bounded by the type's own [min,max]
    hour, so edges are always observed and the division never sees
    ph = nh); neighbor lookup is two IGNORE-NULLS windows over one
    type-key shuffle. Interpolation weights are exact integer hour
    arithmetic — both engines fill identical values modulo the
    rounded display."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .withColumn(
            "hr",
            ((F.col("us") - F.col("us") % 3600000000) / 3600000000).cast("long"),
        )
    )
    obs = ev.groupBy("event_type", "hr").agg(F.avg("value").alias("v"))
    spine = (
        obs.groupBy("event_type")
        .agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("hr"),
        )
    )
    j = spine.join(obs, ["event_type", "hr"], "left")
    w_prev = (
        W.partitionBy("event_type")
        .orderBy(F.asc("hr"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_next = (
        W.partitionBy("event_type")
        .orderBy(F.asc("hr"))
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    hr_if_obs = F.when(F.col("v").isNotNull(), F.col("hr"))
    n = j.select(
        "event_type",
        "hr",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(hr_if_obs, ignorenulls=True).over(w_prev).alias("ph"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(hr_if_obs, ignorenulls=True).over(w_next).alias("nh"),
    )
    fv = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * (F.col("hr") - F.col("ph"))
        / (F.col("nh") - F.col("ph"))
    )
    filled = n.select(
        "event_type",
        fv.alias("fv"),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("interp"),
    )
    return (
        filled.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("interp").cast("long").alias("n_interpolated"),
            (F.round(F.sum("fv") * 1000.0) / 1000.0).alias("filled_sum"),
            (F.round(F.avg("fv") * 1000000.0) / 1000000.0).alias("filled_avg"),
        )
        .orderBy("event_type")
    )


@q(
    "customer_golden_record",
    """
    WITH cnt AS (
      SELECT greatest(CAST(count(*) // 3 AS BIGINT), 1) AS m FROM customer
    ),
    src AS (
      SELECT c_custkey % cnt.m AS master_key, c_custkey, c_name,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg,
             CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END AS bal
      FROM customer, cnt
    )
    SELECT master_key,
           CAST(count(*) AS BIGINT) AS n_sources,
           arg_max(c_name, c_custkey) AS name,
           arg_max(seg, CASE WHEN seg IS NOT NULL THEN c_custkey END)
             AS mktsegment,
           round(max(bal) * 100.0) / 100.0 AS max_acctbal,
           CAST(sum(CASE WHEN seg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_segments
    FROM src GROUP BY master_key ORDER BY master_key
    """,
)
def customer_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM golden-record survivorship: duplicate source records (here
    customers folded into master_key groups of ~3, with
    deterministically injected field nulls standing in for source
    gaps) merge into one record per entity, each field by its own
    rule — name from the NEWEST source (max version key), segment
    from the newest NON-NULL source (the classic recency-with-
    fallback rule, spelled as max_by/arg_max over a conditional
    version key so null fields can never win), balance as the group
    max. Survivorship is therefore ONE hash aggregate — no window
    cascade, no per-field self-joins — which is what keeps entity
    consolidation linear at 100 TB: records shuffle once on the
    match key that entity resolution (the near-dup operators)
    produced upstream."""
    cust = _t(spark, sf_dir, "customer")
    cnt = cust.agg(
        F.greatest(
            F.floor(F.count(F.lit(1)) / 3).cast("long"), F.lit(1)
        ).alias("m")
    )
    src = cust.crossJoin(F.broadcast(cnt)).select(
        (F.col("c_custkey") % F.col("m")).alias("master_key"),
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        F.when(F.col("c_custkey") % 5 == 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    return (
        src.groupBy("master_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.max_by("c_name", "c_custkey").alias("name"),
            F.max_by(
                "seg", F.when(F.col("seg").isNotNull(), F.col("c_custkey"))
            ).alias("mktsegment"),
            (F.round(F.max("bal") * 100.0) / 100.0).alias("max_acctbal"),
            F.sum(F.when(F.col("seg").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_segments"),
        )
        .orderBy("master_key")
    )
