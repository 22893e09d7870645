"""Seventeenth-batch declared queries: modern SQL surface, dispersion
profiling, proportion confidence intervals, and sequence similarity.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - modern ANSI surface in one entry: FILTER-clause aggregates,
   GROUP BY ALL / ORDER BY ALL, and percentile_disc WITHIN GROUP
 - burstiness (Fano factor) profiling of user activity — exact
   integer moment arithmetic, no spine fan-out needed
 - Wilson score confidence intervals for reach proportions (the
   small-n-safe interval, not the normal approximation)
 - user-journey edit-distance similarity (blocked levenshtein over
   event-sequence strings)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import _t, q

_MODERN_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
         AS n_finished,
       CAST(count(*) FILTER (WHERE o_totalprice > 300000.0) AS BIGINT)
         AS n_big,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
         AS median_price_disc
FROM {orders}
GROUP BY ALL
ORDER BY ALL
"""


@q("order_modern_sql_surface", _MODERN_SQL.format(orders="orders"))
def order_modern_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern ANSI SQL surface in one declared statement —
    FILTER-clause conditional aggregates (the standard spelling of
    the CASE-WHEN-sum idiom), GROUP BY ALL / ORDER BY ALL (grouping
    inferred from the select list), and percentile_disc WITHIN GROUP
    (inverse-distribution ordered-set aggregate). Declared in SQL
    text form since the surface itself is the point; the physical
    plan is the same single hash aggregate the DataFrame spelling
    produces. percentile_disc returns an ACTUAL data value (no
    interpolation), so it is exactly engine-identical without
    rounding."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("modern_orders")
    return spark.sql(_MODERN_SQL.format(orders="modern_orders"))


@q(
    "user_burstiness_profile",
    """
    WITH e AS (
      SELECT user_id,
             CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    daily AS (
      SELECT user_id, day, CAST(count(*) AS BIGINT) AS c
      FROM e GROUP BY user_id, day
    ),
    u AS (
      SELECT user_id,
             max(day) - min(day) + 1 AS span,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS ss
      FROM daily GROUP BY user_id
      HAVING max(day) - min(day) + 1 >= 2
    ),
    fano AS (
      SELECT user_id,
             ((ss - s * 1.0 * s / span) / (span - 1))
             / (s * 1.0 / span) AS fano
      FROM u
    )
    SELECT CASE WHEN fano > 1.5 THEN 'bursty'
                WHEN fano < 0.5 THEN 'regular'
                ELSE 'poisson-like' END AS activity_class,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(fano) * 1000000.0) / 1000000.0 AS avg_fano
    FROM fano GROUP BY 1 ORDER BY activity_class
    """,
)
def user_burstiness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness profiling via the Fano factor (variance-to-mean of
    a user's daily event counts over their active span, zero days
    included): ≈1 is Poisson-random arrival, >1 bursty sessions,
    <1 metronome-regular — the dispersion fingerprint that separates
    bot-like regularity from human burstiness. The zero-filled
    variance needs NO spine fan-out: zeros contribute nothing to Σc
    or Σc², so span + two integer sums from the active days
    reconstruct it exactly — the moment algebra runs on exact
    integers and the class boundaries compare exact rationals, so
    membership is engine-identical (only avg_fano is a rounded float
    payload). Two key-shuffle aggregates total."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    ).select(
        "user_id",
        ((F.col("us") - F.col("us") % 86400000000) / 86400000000)
        .cast("long")
        .alias("day"),
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    u = (
        daily.groupBy("user_id")
        .agg(
            (F.max("day") - F.min("day") + 1).alias("span"),
            F.sum("c").cast("long").alias("s"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        )
        .where(F.col("span") >= 2)
    )
    fano = (
        (F.col("ss") - F.col("s") * 1.0 * F.col("s") / F.col("span"))
        / (F.col("span") - 1)
    ) / (F.col("s") * 1.0 / F.col("span"))
    cls = (
        F.when(fano > 1.5, "bursty")
        .when(fano < 0.5, "regular")
        .otherwise("poisson-like")
    )
    return (
        u.select(cls.alias("activity_class"), fano.alias("fano"))
        .groupBy("activity_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            (F.round(F.avg("fano") * 1000000.0) / 1000000.0).alias("avg_fano"),
        )
        .orderBy("activity_class")
    )


@q(
    "event_reach_wilson_ci",
    """
    WITH n AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n FROM events),
    k AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS DOUBLE) AS k
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(k AS BIGINT) AS n_reached, CAST(n.n AS BIGINT) AS n_users,
           round(k / n.n * 1000000.0) / 1000000.0 AS reach,
           round(((k / n.n + 1.96 * 1.96 / (2.0 * n.n)
                   - 1.96 * sqrt((k / n.n) * (1.0 - k / n.n) / n.n
                                 + 1.96 * 1.96 / (4.0 * n.n * n.n)))
                  / (1.0 + 1.96 * 1.96 / n.n)) * 1000000.0) / 1000000.0
             AS wilson_lb,
           round(((k / n.n + 1.96 * 1.96 / (2.0 * n.n)
                   + 1.96 * sqrt((k / n.n) * (1.0 - k / n.n) / n.n
                                 + 1.96 * 1.96 / (4.0 * n.n * n.n)))
                  / (1.0 + 1.96 * 1.96 / n.n)) * 1000000.0) / 1000000.0
             AS wilson_ub
    FROM k, n ORDER BY event_type
    """,
)
def event_reach_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence intervals for per-event-type user
    reach (share of the audience that ever fired the type) — the
    interval that stays inside [0,1] and behaves at small n or
    extreme proportions, where the naive normal (Wald) interval
    collapses; the right error bar for every reach/conversion
    readout in the experiment entries. Two distinct-count
    aggregates; the interval is one literal-constant expression over
    exact integer counts — bit-identical across engines before the
    display round."""
    ev = _t(spark, sf_dir, "events")
    n = ev.agg(F.countDistinct("user_id").cast("double").alias("n"))
    k = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("double").alias("k")
    )
    p = F.col("k") / F.col("n")
    z2 = 1.96 * 1.96
    disc = F.sqrt(
        p * (1.0 - p) / F.col("n") + z2 / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1.0 + z2 / F.col("n")
    center = p + z2 / (2.0 * F.col("n"))
    r6 = lambda c: F.round(c * 1000000.0) / 1000000.0  # noqa: E731
    return (
        k.crossJoin(F.broadcast(n))
        .select(
            "event_type",
            F.col("k").cast("long").alias("n_reached"),
            F.col("n").cast("long").alias("n_users"),
            r6(p).alias("reach"),
            r6((center - 1.96 * disc) / denom).alias("wilson_lb"),
            r6((center + 1.96 * disc) / denom).alias("wilson_ub"),
        )
        .orderBy("event_type")
    )


@q(
    "user_journey_edit_distance",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
      FROM events
    ),
    seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY us ASC,
                        event_id ASC) AS full_j
      FROM e GROUP BY user_id
    ),
    j AS (
      SELECT user_id, substr(full_j, 1, 30) AS journey,
             substr(full_j, 1, 4) AS pfx
      FROM seq
    ),
    pairs AS (
      SELECT a.user_id AS id_a, b.user_id AS id_b,
             levenshtein(a.journey, b.journey) AS dist
      FROM j a JOIN j b
        ON b.pfx = a.pfx AND a.user_id < b.user_id
    )
    SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(id_a) AS BIGINT) AS min_id_a,
           CAST(min(id_b) AS BIGINT) AS min_id_b
    FROM pairs GROUP BY dist ORDER BY dist
    """,
)
def user_journey_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey similarity: each user's event sequence becomes a
    string of type initials (time-ordered, event_id tie-break,
    capped at 30 steps), and blocked pairs — same 4-step journey
    prefix — score by levenshtein edit distance, the sequence
    clustering primitive behind 'users who behave alike' (string
    edit distance on journeys, vs `event_path_trigrams`' fixed-width
    n-grams). The prefix block key's cardinality GROWS with the data
    (alphabet^4 = 625 possible values here, realized count rising
    with user count — asserted in test_scale_patterns) so within-
    block pair generation stays sub-quadratic, unlike a head-char ×
    length-decile key whose ~20 fixed blocks would go O(n²) at 100×;
    the 30-char cap bounds each distance evaluation's O(len²) cost.
    Output is the exact-integer distance histogram."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    # Cap BEFORE collecting (r6 collect_list audit): only the first 30
    # events per user ever matter (the journey truncates there), and
    # the literal rn<=30 filter rides WindowGroupLimit below the sort —
    # a hot user's multi-million-event history never materializes in
    # one aggregation buffer. Value-identical: chars 1..30 of the
    # time-ordered concat ARE the first 30 events' chars.
    w30 = W.partitionBy("user_id").orderBy(F.asc("us"), F.asc("event_id"))
    capped = ev.withColumn("_rn", F.row_number().over(w30)).where(
        F.col("_rn") <= 30
    )
    seq = capped.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("us", "event_id", "ch"))),
                lambda x: x["ch"],
            ),
            "",
        ).alias("full_j")
    )
    j = seq.select(
        "user_id",
        F.substring("full_j", 1, 30).alias("journey"),
        F.substring("full_j", 1, 4).alias("pfx"),
    )
    a = j.select(
        F.col("user_id").alias("id_a"),
        F.col("journey").alias("j_a"),
        "pfx",
    )
    b = j.select(
        F.col("user_id").alias("id_b"),
        F.col("journey").alias("j_b"),
        F.col("pfx").alias("pfx2"),
    )
    pairs = a.join(
        b,
        (F.col("pfx") == F.col("pfx2")) & (F.col("id_a") < F.col("id_b")),
    ).select(F.levenshtein(F.col("j_a"), F.col("j_b")).alias("dist"), "id_a", "id_b")
    return (
        pairs.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("id_a").cast("long").alias("min_id_a"),
            F.min("id_b").cast("long").alias("min_id_b"),
        )
        .orderBy("dist")
    )
