"""Eighteenth-batch declared queries: distribution testing and
time-series diagnostics.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - two-sample Kolmogorov-Smirnov statistic (exact ECDF gap with an
   integer-arithmetic argmax — the unbinned sibling of the PSI
   drift monitor)
 - autocorrelation function at lags 1..7 of the daily series (the
   diagnostic that decides AR model order / seasonality strength)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import _t, q


@q(
    "event_value_ks_test",
    """
    WITH tb AS (SELECT min(epoch_ns(ts) // 1000) AS tmn,
                       max(epoch_ns(ts) // 1000) AS tmx FROM events),
    e AS (
      SELECT event_type, value,
             CASE WHEN epoch_ns(ts) // 1000
                       < tb.tmn + (tb.tmx - tb.tmn) // 2 THEN 1 ELSE 0 END
               AS pre
      FROM events, tb WHERE value IS NOT NULL
    ),
    byval AS (
      SELECT event_type, value,
             CAST(sum(pre) AS BIGINT) AS c1,
             CAST(sum(1 - pre) AS BIGINT) AS c2
      FROM e GROUP BY event_type, value
    ),
    cum AS (
      SELECT event_type, value,
             sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2,
             sum(c1) OVER (PARTITION BY event_type) AS n1,
             sum(c2) OVER (PARTITION BY event_type) AS n2
      FROM byval
      WINDOW w AS (PARTITION BY event_type ORDER BY value ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    ranked AS (
      SELECT cum.*,
             abs(cum1 * n2 - cum2 * n1) AS dnum,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(cum1 * n2 - cum2 * n1) DESC,
                                         value ASC) AS rk
      FROM cum
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_pre, CAST(n2 AS BIGINT) AS n_post,
           round(dnum * 1.0 / (n1 * n2) * 1000000.0) / 1000000.0 AS ks_stat,
           round(value * 1000000.0) / 1000000.0 AS at_value
    FROM ranked WHERE rk = 1 ORDER BY event_type
    """,
)
def event_value_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per event type: the
    maximum gap between the early-half and late-half empirical CDFs
    of `value` — the UNBINNED drift test next to `event_value_psi`
    (PSI needs bin choices; KS compares the full distributions and
    also reports WHERE they diverge most). Determinism engineering
    as in the CUSUM entry: the ECDF gap rescales to the exact
    integer |cum1·n2 − cum2·n1|, so the argmax (and its tie-break on
    the value) runs entirely in integer arithmetic — floats appear
    only in the display columns. One fact aggregate collapses to the
    per-distinct-value frame. Scale shape (r6 low-cardinality-window
    audit): `value` is continuous, so the per-distinct-value frame
    grows WITH the corpus while `event_type` has a handful of values —
    the former per-type cumulative/total/argmax windows each funneled
    a corpus-sized slice through one task. Now: cumulative counts ride
    `ordered_prefix` (range-bucketed two-level prefix sums restarted
    per type), the per-type totals are a ≤|types|-row broadcast, and
    the argmax is a min-struct aggregate — no per-type single-task
    pass anywhere. At 100 TB exact per-value ECDFs give way to
    quantile-sketch CDFs; the gap algebra is unchanged."""
    from ..operators.ranking import ordered_prefix
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
    )
    tb = ev.agg(F.min("us").alias("tmn"), F.max("us").alias("tmx"))
    mid = F.col("tmn") + F.floor((F.col("tmx") - F.col("tmn")) / 2)
    byval = (
        ev.crossJoin(F.broadcast(tb))
        .select(
            "event_type",
            "value",
            F.when(F.col("us") < mid, 1).otherwise(0).alias("pre"),
        )
        .groupBy("event_type", "value")
        .agg(
            F.sum("pre").cast("long").alias("c1"),
            F.sum(1 - F.col("pre")).cast("long").alias("c2"),
        )
    )
    pre = ordered_prefix(
        byval,
        "value",
        rank_col=None,
        sums={"_b1": "c1", "_b2": "c2"},
        buckets=32,
        partition_by=["event_type"],
    )
    totals = byval.groupBy("event_type").agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    cum = pre.select(
        "event_type",
        "value",
        (F.col("_b1") + F.col("c1")).alias("cum1"),
        (F.col("_b2") + F.col("c2")).alias("cum2"),
    ).join(F.broadcast(totals), "event_type")
    # DECIMAL(38,0) products: cum·n reaches n1·n2 <= (N/2)² per type,
    # which blows int64 past ~6e9 events per type — real at 100 TB.
    # The multiply runs on the COLLAPSED per-distinct-value frame
    # (post-shuffle, 2 ops per row), so exact decimal is free; the
    # DuckDB oracle's window sums are already HUGEINT (VERDICT r8
    # item 3 audit). The prefix/total COUNTS stay long — they are
    # bounded by events-per-type (< 9.2e18 at any reachable scale).
    dnum = F.abs(
        F.col("cum1").cast("decimal(38,0)") * F.col("n2")
        - F.col("cum2").cast("decimal(38,0)") * F.col("n1")
    )
    # argmax by (dnum DESC, value ASC) == min-struct over (-dnum,
    # value): dnum is an exact DECIMAL(38,0) integer (r9 width
    # escalation), so the negation and the lexicographic struct order
    # are exact.
    ranked = (
        cum.select(
            "event_type",
            "n1",
            "n2",
            F.struct(
                (-dnum).alias("_nd"), F.col("value").alias("value")
            ).alias("_kv"),
        )
        .groupBy("event_type", "n1", "n2")
        .agg(F.min("_kv").alias("_best"))
        .select(
            "event_type",
            "n1",
            "n2",
            (-F.col("_best._nd")).alias("dnum"),
            F.col("_best.value").alias("value"),
        )
    )
    return (
        ranked
        .select(
            "event_type",
            F.col("n1").cast("long").alias("n_pre"),
            F.col("n2").cast("long").alias("n_post"),
            (
                # n1*n2 in DECIMAL too (code-review r9): a long*long
                # product here would re-open the exact int64 wall the
                # dnum escalation removed. Exact product -> one
                # double conversion, same as DuckDB's HUGEINT path.
                F.round(
                    F.col("dnum") * 1.0
                    / (F.col("n1").cast("decimal(38,0)") * F.col("n2"))
                    * 1000000.0
                )
                / 1000000.0
            ).alias("ks_stat"),
            (F.round(F.col("value") * 1000000.0) / 1000000.0).alias("at_value"),
        )
        .orderBy("event_type")
    )


@q(
    "event_daily_acf",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day,
             CAST(round(sum(value) * 1000.0) AS BIGINT) AS s
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, day
    ),
    lags AS (SELECT unnest(range(1, 8)) AS lag),
    pairs AS (
      SELECT a.event_type, l.lag, a.s AS x, b.s AS y
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.event_type = a.event_type AND b.day = a.day - l.lag
    ),
    m AS (
      SELECT event_type, lag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(sum(x * y) AS DOUBLE) AS sxy
      FROM pairs GROUP BY event_type, lag
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0)
                 * 1000000.0) / 1000000.0 AS acf
    FROM m ORDER BY event_type, lag
    """,
)
def event_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily value series at lags
    1..7, per event type — the diagnostic that reveals AR structure
    and weekly seasonality (a lag-7 spike confirms what the
    seasonal-naive backtest exploits; near-zero ACF says the series
    is noise and forecasting is hopeless). Lagged pairs come from a
    DAY-OFFSET self-join (robust to calendar gaps, unlike row-offset
    lag) after the 7-way in-row lag fan-out; daily totals quantize
    to integer milli-units so every moment sum is exact and the
    Pearson-per-lag expression is bit-identical across engines
    before the display round. All joins and windows run on the
    |types|×|days| frame — the fact table is scanned once. Zero-
    variance lags NULL out via nullif instead of throwing."""
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
    daily = ev.groupBy("event_type", "day").agg(
        F.round(F.sum("value") * 1000.0).cast("long").alias("s")
    )
    lag_fan = daily.select(
        "event_type",
        "day",
        F.col("s").alias("x"),
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("lag"),
    )
    b = daily.select(
        "event_type", F.col("day").alias("bday"), F.col("s").alias("y")
    )
    pairs = lag_fan.join(
        b,
        (lag_fan.event_type == b.event_type)
        & (F.col("bday") == F.col("day") - F.col("lag")),
    ).select(lag_fan.event_type.alias("event_type"), "lag", "x", "y")
    m = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    acf = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        ),
        F.lit(0.0),
    )
    return m.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        (F.round(acf * 1000000.0) / 1000000.0).alias("acf"),
    ).orderBy("event_type", "lag")
