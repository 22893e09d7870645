"""Fifteenth-batch declared queries: change-point detection, survival
analysis, tokenizer coverage, and categorical imputation.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - CUSUM change-point detection over the daily series, in EXACT
   integer arithmetic (no fp accumulation anywhere in the argmax)
 - Kaplan-Meier survival curve of user lifetimes with right-censoring
   (the estimator retention modeling borrows from biostatistics)
 - tokenizer vocabulary coverage / OOV rates (how much of each
   language slice a fixed vocab explains)
 - grouped-mode categorical imputation (fill missing segments with
   the nation's most common value, deterministic tie-break)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import _t, _t_wide, q


@q(
    "event_value_cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day,
             CAST(round(sum(value) * 1000.0) AS BIGINT) AS s
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, day
    ),
    seq AS (
      SELECT event_type, day, s,
             sum(s) OVER (PARTITION BY event_type ORDER BY day ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prefix,
             row_number() OVER (PARTITION BY event_type ORDER BY day ASC) AS d,
             sum(s) OVER (PARTITION BY event_type) AS tot,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ),
    cusum AS (
      SELECT event_type, day,
             n * prefix - d * tot AS numer, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(n * prefix - d * tot) DESC,
                                         day ASC) AS rk
      FROM seq
    )
    SELECT event_type, day AS change_day,
           round(abs(numer) * 1.0 / n / 1000.0 * 1000.0) / 1000.0
             AS max_abs_cusum
    FROM cusum WHERE rk = 1 ORDER BY event_type
    """,
)
def event_value_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection: for each event type, the day
    where the cumulative deviation of daily value totals from the
    series mean peaks — the classic single-change-point locator
    (where the level shifted, complementing the PSI entry's did-it-
    shift answer). Determinism engineering: daily totals quantize to
    integer milli-units, and CUSUM_d = prefix_d − d·mean is rescaled
    by n to the EXACT integer n·prefix_d − d·total — the argmax runs
    entirely in integer arithmetic, so no floating-point
    accumulation order can move the change-point in either engine
    (floats appear only in the display column). One fact aggregate
    collapses to the |types|×|days| frame; windows run over that
    tiny frame."""
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
    # DECIMAL(38,0) from the daily rollup on: the frame is tiny
    # (|types| x |days| — calendar-bounded), and int64 walls sit both
    # on the per-type total (tot overflows past ~9e15 value units) and
    # on the n·prefix products (past ~9.2e18/n_days) — exact decimal
    # costs nothing here and a 100x corpus never hits the ANSI throw
    # (VERDICT r8 item 3 audit; the DuckDB side already auto-widens
    # its sums to HUGEINT, so only the Spark wall existed)
    daily = ev.groupBy("event_type", "day").agg(
        F.round(F.sum("value") * 1000.0).cast("decimal(38,0)").alias("s")
    )
    wt = W.partitionBy("event_type")
    wo = wt.orderBy(F.asc("day"))
    seq = daily.select(
        "event_type",
        "day",
        F.sum("s").over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("prefix"),
        F.row_number().over(wo).alias("d"),
        F.sum("s").over(wt).alias("tot"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    numer = F.col("n") * F.col("prefix") - F.col("d") * F.col("tot")
    cusum = seq.select(
        "event_type",
        "day",
        numer.alias("numer"),
        "n",
        F.row_number()
        .over(wt.orderBy(F.abs(numer).desc(), F.asc("day")))
        .alias("rk"),
    )
    return (
        cusum.where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            (
                F.round(
                    F.abs(F.col("numer")) * 1.0 / F.col("n") / 1000.0 * 1000.0
                )
                / 1000.0
            ).alias("max_abs_cusum"),
        )
        .orderBy("event_type")
    )


@q(
    "user_survival_km",
    """
    WITH e AS (
      SELECT user_id,
             CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    horizon AS (SELECT max(day) AS h FROM e),
    life AS (
      SELECT user_id, max(e.day) - min(e.day) AS t,
             CASE WHEN max(e.day) >= horizon.h - 6 THEN 0 ELSE 1 END AS event
      FROM e, horizon GROUP BY user_id, horizon.h
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM life),
    byt AS (
      SELECT t, CAST(sum(event) AS BIGINT) AS d,
             CAST(sum(1 - event) AS BIGINT) AS c
      FROM life GROUP BY t
    ),
    arr AS (
      SELECT list([CAST(t AS DOUBLE), CAST(d AS DOUBLE), CAST(c AS DOUBLE)]
                  ORDER BY t ASC) AS s
      FROM byt
    ),
    ex AS (
      SELECT n, s, unnest(generate_series(1, len(s))) AS i
      FROM arr, tot
    )
    SELECT CAST(s[i][1] AS BIGINT) AS lifetime_days,
           n - CAST(list_reduce(
                 list_prepend(0.0,
                   list_transform(s[1:i-1], x -> x[2] + x[3])),
                 (a, b) -> a + b) AS BIGINT) AS n_at_risk,
           CAST(s[i][2] AS BIGINT) AS n_deaths,
           CAST(s[i][3] AS BIGINT) AS n_censored,
           round(list_reduce(
                   list_prepend([CAST(n AS DOUBLE), 1.0], s[1:i]),
                   (acc, r) -> [acc[1] - (r[2] + r[3]),
                                CASE WHEN r[2] > 0
                                     THEN acc[2] * (acc[1] - r[2]) / acc[1]
                                     ELSE acc[2] END])[2]
                 * 1000000.0) / 1000000.0 AS survival
    FROM ex ORDER BY lifetime_days
    """,
)
def user_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetimes (first to last
    activity day): users still active in the final week are
    right-CENSORED — they leave the risk set without counting as
    churn, which is exactly the bias-correction KM exists for (naive
    churn curves count the not-yet-churned as churned). S(t) =
    Π_{tᵢ≤t} (1 − dᵢ/n_riskᵢ). DETERMINISM: the r3 driver flagged
    the original exp(Σ ln(1−d/n)) spelling — ln/exp are libm calls
    that differ by an ulp between the JVM and DuckDB, and round-number
    risk sets land the 1e-6 display round exactly ON half-way
    boundaries (e.g. n=3200, d=1 → ×10⁶ = 999687.5). The product now
    folds IN-ROW over the t-sorted event list with a two-slot
    [n_remaining, product] array accumulator (F.aggregate ↔ DuckDB
    list_reduce, both left folds, the Holt pattern): each factor
    (n_risk−d)/n_risk is ONE correctly-rounded IEEE division of exact
    integers and each product step one correctly-rounded multiply, so
    the pre-round double is bitwise identical across engines — no
    transcendentals anywhere. Shape: one per-user aggregate (key
    shuffle), then everything runs in-row on the tiny |distinct
    lifetimes| frame; row membership and ordering are pure
    integers."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    ).select(
        "user_id",
        ((F.col("us") - F.col("us") % 86400000000) / 86400000000)
        .cast("long")
        .alias("day"),
    )
    horizon = ev.agg(F.max("day").alias("h"))
    life = (
        ev.crossJoin(F.broadcast(horizon))
        .groupBy("user_id", "h")
        .agg(F.min("day").alias("fd"), F.max("day").alias("ld"))
        .select(
            (F.col("ld") - F.col("fd")).alias("t"),
            F.when(F.col("ld") >= F.col("h") - 6, 0).otherwise(1).alias("event"),
        )
    )
    tot = life.agg(F.count(F.lit(1)).cast("long").alias("n"))
    byt = life.groupBy("t").agg(
        F.sum("event").cast("long").alias("d"),
        F.sum(1 - F.col("event")).cast("long").alias("c"),
    )
    arr = byt.agg(
        F.array_sort(F.collect_list(F.struct("t", "d", "c"))).alias("s")
    ).crossJoin(F.broadcast(tot))
    ex = arr.select("n", "s", F.posexplode("s").alias("i", "e"))
    prior = F.aggregate(
        F.slice(F.col("s"), F.lit(1), F.col("i")),
        F.lit(0).cast("long"),
        lambda a, x: a + x["d"] + x["c"],
    )
    fold = F.aggregate(
        F.slice(F.col("s"), F.lit(1), F.col("i") + 1),
        F.array(F.col("n").cast("double"), F.lit(1.0)),
        lambda acc, r: F.array(
            acc[0] - (r["d"] + r["c"]).cast("double"),
            F.when(
                r["d"] > 0,
                acc[1] * (acc[0] - r["d"].cast("double")) / acc[0],
            ).otherwise(acc[1]),
        ),
    )
    return ex.select(
        F.col("e")["t"].alias("lifetime_days"),
        (F.col("n") - prior).alias("n_at_risk"),
        F.col("e")["d"].alias("n_deaths"),
        F.col("e")["c"].alias("n_censored"),
        (F.round(fold[1] * 1000000.0) / 1000000.0).alias("survival"),
    ).orderBy("lifetime_days")


@q(
    "doc_vocab_oov_rates",
    """
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token, count(*) AS c FROM toks GROUP BY token
        ORDER BY c DESC, token ASC LIMIT 16
      )
    ),
    marked AS (
      SELECT t.lang, t.token,
             CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
      FROM toks t LEFT JOIN vocab v ON v.token = t.token
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           CAST(count(DISTINCT CASE WHEN oov = 1 THEN token END) AS BIGINT)
             AS n_oov_types,
           round(sum(oov) * 1.0 / count(*) * 1000000.0) / 1000000.0 AS oov_rate
    FROM marked GROUP BY lang ORDER BY lang
    """,
)
def doc_vocab_oov_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary coverage: fix the vocab at the corpus's
    top-16 tokens (deterministic count-then-token order) and measure
    the out-of-vocabulary token rate per language slice — the
    coverage analysis run before committing to a tokenizer (a vocab
    trained on the majority language quietly shreds the minority
    slices into OOV fragments, inflating their token counts). The
    vocab is dimension-sized and BROADCASTS into a left join marking
    each token instance; one aggregate per language closes it out.
    At 100 TB the same shape holds with a real 100k-token vocab —
    still broadcast-sized, still one corpus pass."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(16)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    marked = toks.join(F.broadcast(vocab), "token", "left").select(
        "lang",
        "token",
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"),
    )
    return (
        marked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("oov").cast("long").alias("n_oov"),
            F.countDistinct(
                F.when(F.col("oov") == 1, F.col("token"))
            )
            .cast("long")
            .alias("n_oov_types"),
            (
                F.round(F.sum("oov") * 1.0 / F.count(F.lit(1)) * 1000000.0)
                / 1000000.0
            ).alias("oov_rate"),
        )
        .orderBy("lang")
    )


@q(
    "customer_segment_mode_imputation",
    """
    WITH src AS (
      SELECT c_custkey, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
      FROM customer
    ),
    modes AS (
      SELECT c_nationkey, seg AS mode_seg FROM (
        SELECT c_nationkey, seg, count(*) AS c,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY count(*) DESC, seg ASC) AS rk
        FROM src WHERE seg IS NOT NULL GROUP BY c_nationkey, seg
      ) WHERE rk = 1
    )
    SELECT s.c_nationkey AS nationkey, m.mode_seg,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN s.seg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed,
           CAST(sum(CASE WHEN coalesce(s.seg, m.mode_seg) = m.mode_seg
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_final_mode
    FROM src s JOIN modes m ON m.c_nationkey = s.c_nationkey
    GROUP BY s.c_nationkey, m.mode_seg ORDER BY nationkey
    """,
)
def customer_segment_mode_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-mode categorical imputation: missing market segments
    (deterministically injected nulls standing in for source gaps)
    fill with the customer's nation's most common segment —
    the categorical sibling of `user_event_locf_fill` (ordered
    carry-forward) and `event_hourly_interpolation` (numeric
    between-neighbors). The mode table is one grouped count +
    row_number with a full (count DESC, value ASC) tie-break — both
    engines elect the identical mode even for tied counts — and is
    dimension-sized, so it BROADCASTS back onto the rows. Output
    audits the fill: how many rows were imputed and how many end up
    at the mode."""
    src = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    modes = (
        src.where(F.col("seg").isNotNull())
        .groupBy("c_nationkey", "seg")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "c_nationkey",
            "seg",
            F.row_number()
            .over(
                W.partitionBy("c_nationkey").orderBy(F.desc("c"), F.asc("seg"))
            )
            .alias("rk"),
        )
        .where(F.col("rk") == 1)
        .select("c_nationkey", F.col("seg").alias("mode_seg"))
    )
    return (
        src.join(F.broadcast(modes), "c_nationkey")
        .groupBy(
            F.col("c_nationkey").alias("nationkey"), F.col("mode_seg")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.when(F.col("seg").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_imputed"),
            F.sum(
                F.when(
                    F.coalesce(F.col("seg"), F.col("mode_seg"))
                    == F.col("mode_seg"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_final_mode"),
        )
        .orderBy("nationkey")
    )
