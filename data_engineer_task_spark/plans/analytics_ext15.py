"""Sixteenth-batch declared queries: experimentation adjustments,
index numbers, keyphrase extraction, and rolling order statistics.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - CUPED variance reduction (pre-period covariate adjustment — the
   standard trick that shrinks A/B confidence intervals for free)
 - difference-in-differences estimate over the same variant split
 - Laspeyres price index (base-quantity-weighted inflation series)
 - RAKE-lite keyphrase extraction (stopword-delimited phrase runs
   scored by word degree/frequency)
 - trailing 7-day rolling MEDIAN (fan-out-then-aggregate exact
   order statistics — the robust sibling of rolling averages)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.sampling import _md5_byte0
from .registry import _AB_VARIANT_SQL, _t, _t_wide, q


@q(
    "ab_cuped_adjustment",
    f"""
    WITH tb AS (SELECT min(epoch_ns(ts) // 1000) AS tmn,
                       max(epoch_ns(ts) // 1000) AS tmx FROM events),
    u AS (
      SELECT user_id, {_AB_VARIANT_SQL} AS variant,
             round(sum(CASE WHEN epoch_ns(ts) // 1000
                                 < tb.tmn + (tb.tmx - tb.tmn) // 2
                            THEN value ELSE 0 END) * 1000000.0) / 1000000.0 AS x,
             round(sum(CASE WHEN epoch_ns(ts) // 1000
                                 >= tb.tmn + (tb.tmx - tb.tmn) // 2
                            THEN value ELSE 0 END) * 1000000.0) / 1000000.0 AS y
      FROM events, tb WHERE value IS NOT NULL
      GROUP BY user_id, tb.tmn, tb.tmx
    ),
    theta AS (
      SELECT (sum(x * y) - sum(x) * sum(y) / count(*))
             / nullif(sum(x * x) - sum(x) * sum(x) / count(*), 0.0) AS th,
             sum(x) / count(*) AS xbar
      FROM u
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(y) * 1000.0) / 1000.0 AS mean_post,
           round(avg(y - theta.th * (x - theta.xbar)) * 1000.0) / 1000.0
             AS mean_post_cuped,
           round(var_samp(y) * 1000.0) / 1000.0 AS var_post,
           round(var_samp(y - theta.th * (x - theta.xbar)) * 1000.0) / 1000.0
             AS var_post_cuped
    FROM u, theta GROUP BY variant, theta.th, theta.xbar ORDER BY variant
    """,
)
def ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data): the
    post-period metric is adjusted by the pooled pre-period
    covariate, Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X), which
    provably cuts metric variance (by the X,Y correlation²) without
    biasing the treatment contrast — the standard ship-faster trick
    on top of `ab_test_purchase_lift`'s variant split (same 'ab:'
    salted-hash assignment, so the two entries describe one
    experiment). Per-user pre/post sums quantize at 1e-6 so the
    moment sums feeding θ see identical inputs in both engines;
    everything is two aggregates over the per-user frame with the
    one-row θ broadcast back. Degenerate var(X) = 0 NULLs out via
    nullif."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
    )
    tb = ev.agg(F.min("us").alias("tmn"), F.max("us").alias("tmx"))
    mid = F.col("tmn") + F.floor((F.col("tmx") - F.col("tmn")) / 2)
    r6 = lambda c: F.round(c * 1000000.0) / 1000000.0  # noqa: E731
    u = (
        ev.crossJoin(F.broadcast(tb))
        .groupBy("user_id")
        .agg(
            r6(
                F.sum(F.when(F.col("us") < mid, F.col("value")).otherwise(0))
            ).alias("x"),
            r6(
                F.sum(F.when(F.col("us") >= mid, F.col("value")).otherwise(0))
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
    n = F.count(F.lit(1))
    theta = u.agg(
        (
            (F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y") / n)
            / F.nullif(
                F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / n,
                F.lit(0.0),
            )
        ).alias("th"),
        (F.sum("x") / n).alias("xbar"),
    )
    adj = F.col("y") - F.col("th") * (F.col("x") - F.col("xbar"))
    r3 = lambda c: F.round(c * 1000.0) / 1000.0  # noqa: E731
    return (
        u.crossJoin(F.broadcast(theta))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            r3(F.avg("y")).alias("mean_post"),
            r3(F.avg(adj)).alias("mean_post_cuped"),
            r3(F.var_samp("y")).alias("var_post"),
            r3(F.var_samp(adj)).alias("var_post_cuped"),
        )
        .orderBy("variant")
    )


@q(
    "ab_did_estimate",
    f"""
    WITH tb AS (SELECT min(epoch_ns(ts) // 1000) AS tmn,
                       max(epoch_ns(ts) // 1000) AS tmx FROM events),
    e AS (
      SELECT {_AB_VARIANT_SQL} AS variant,
             CASE WHEN epoch_ns(ts) // 1000
                       < tb.tmn + (tb.tmx - tb.tmn) // 2
                  THEN 'pre' ELSE 'post' END AS period,
             value
      FROM events, tb WHERE value IS NOT NULL
    ),
    cells AS (
      SELECT variant, period, avg(value) AS m,
             CAST(count(*) AS BIGINT) AS n
      FROM e GROUP BY variant, period
    )
    SELECT
      CAST(sum(n) AS BIGINT) AS n_events,
      round(max(CASE WHEN variant = 'A' AND period = 'pre' THEN m END)
            * 1000.0) / 1000.0 AS mean_a_pre,
      round(max(CASE WHEN variant = 'A' AND period = 'post' THEN m END)
            * 1000.0) / 1000.0 AS mean_a_post,
      round(max(CASE WHEN variant = 'B' AND period = 'pre' THEN m END)
            * 1000.0) / 1000.0 AS mean_b_pre,
      round(max(CASE WHEN variant = 'B' AND period = 'post' THEN m END)
            * 1000.0) / 1000.0 AS mean_b_post,
      round(((max(CASE WHEN variant = 'B' AND period = 'post' THEN m END)
              - max(CASE WHEN variant = 'B' AND period = 'pre' THEN m END))
             - (max(CASE WHEN variant = 'A' AND period = 'post' THEN m END)
                - max(CASE WHEN variant = 'A' AND period = 'pre' THEN m END)))
            * 1000000.0) / 1000000.0 AS did
    FROM cells
    """,
)
def ab_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences over the hashed variant split and the
    time midpoint: (B_post − B_pre) − (A_post − A_pre) — the causal
    contrast that differences away both the groups' level gap and
    the shared time trend, the workhorse when treatment wasn't
    randomized per-unit (and here a placebo check for the hash
    split: a near-zero DiD is what a clean assignment should show).
    One fact aggregate to 4 cells, then a conditional pivot — the
    same shape as `returnflag_status_pivot`. Cell means are the only
    floats; display-rounded."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
    )
    tb = ev.agg(F.min("us").alias("tmn"), F.max("us").alias("tmx"))
    mid = F.col("tmn") + F.floor((F.col("tmx") - F.col("tmn")) / 2)
    cells = (
        ev.crossJoin(F.broadcast(tb))
        .select(
            F.when(_md5_byte0(F.col("user_id"), salt="ab:") % 2 == 0, "A")
            .otherwise("B")
            .alias("variant"),
            F.when(F.col("us") < mid, "pre").otherwise("post").alias("period"),
            "value",
        )
        .groupBy("variant", "period")
        .agg(F.avg("value").alias("m"), F.count(F.lit(1)).alias("n"))
    )

    def cell(v: str, p: str):
        return F.max(
            F.when((F.col("variant") == v) & (F.col("period") == p), F.col("m"))
        )

    r3 = lambda c: F.round(c * 1000.0) / 1000.0  # noqa: E731
    did = (cell("B", "post") - cell("B", "pre")) - (
        cell("A", "post") - cell("A", "pre")
    )
    return cells.agg(
        F.sum("n").cast("long").alias("n_events"),
        r3(cell("A", "pre")).alias("mean_a_pre"),
        r3(cell("A", "post")).alias("mean_a_post"),
        r3(cell("B", "pre")).alias("mean_b_pre"),
        r3(cell("B", "post")).alias("mean_b_post"),
        (F.round(did * 1000000.0) / 1000000.0).alias("did"),
    )


@q(
    "brand_price_index_laspeyres",
    """
    WITH li AS (
      SELECT l_partkey,
             year(l_shipdate) * 12 + month(l_shipdate) AS m,
             sum(l_extendedprice) AS ext, sum(l_quantity) AS qty
      FROM lineitem GROUP BY l_partkey, year(l_shipdate) * 12 + month(l_shipdate)
    ),
    priced AS (SELECT l_partkey, m, ext / qty AS p, qty FROM li),
    base AS (
      SELECT l_partkey, p AS p0, qty AS q0 FROM priced, (SELECT min(m) AS m0 FROM priced) b
      WHERE priced.m = b.m0
    )
    SELECT priced.m AS month_key,
           CAST(count(*) AS BIGINT) AS n_parts_matched,
           round(sum(priced.p * base.q0) / sum(base.p0 * base.q0)
                 * 1000000.0) / 1000000.0 AS laspeyres_index
    FROM priced JOIN base ON base.l_partkey = priced.l_partkey
    GROUP BY priced.m ORDER BY month_key
    """,
)
def brand_price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index: each month's part prices weighted by
    BASE-month quantities, over parts traded in both months — the
    index-number construction behind CPI-style inflation series
    (base weights isolate pure price movement from quantity mix
    shifts; index = Σp_t·q₀ / Σp₀·q₀, first month ≡ 1). Unit prices
    derive from one (part, month) aggregate of the fact table; the
    base-month slice is part-dimension-sized and broadcasts back.
    Matched-parts counts make the survivorship visible (parts absent
    from the base month drop out — the classic index-number
    caveat)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            "l_partkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("m"),
        )
        .agg(F.sum("l_extendedprice").alias("ext"), F.sum("l_quantity").alias("qty"))
        .select(
            "l_partkey", "m", (F.col("ext") / F.col("qty")).alias("p"), "qty"
        )
    )
    m0 = li.agg(F.min("m").alias("m0"))
    base = (
        li.crossJoin(F.broadcast(m0))
        .where(F.col("m") == F.col("m0"))
        .select(
            "l_partkey", F.col("p").alias("p0"), F.col("qty").alias("q0")
        )
    )
    return (
        li.join(F.broadcast(base), "l_partkey")
        .groupBy(F.col("m").alias("month_key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts_matched"),
            (
                F.round(
                    F.sum(F.col("p") * F.col("q0"))
                    / F.sum(F.col("p0") * F.col("q0"))
                    * 1000000.0
                )
                / 1000000.0
            ).alias("laspeyres_index"),
        )
        .orderBy("month_key")
    )


@q(
    "doc_rake_keyphrases",
    """
    WITH toks AS (
      SELECT doc_id, t.token, t.pos
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS token,
                           generate_subscripts(string_split(text, ' '), 1) AS pos) t
    ),
    stop AS (
      SELECT token FROM (
        SELECT token, count(*) AS c FROM toks GROUP BY token
        ORDER BY c DESC, token ASC LIMIT 5
      )
    ),
    content AS (
      SELECT toks.*,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos ASC) AS grp
      FROM toks WHERE token NOT IN (SELECT token FROM stop)
    ),
    phrases AS (
      SELECT doc_id, grp,
             string_agg(token, ' ' ORDER BY pos ASC) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM content GROUP BY doc_id, grp
    ),
    words AS (
      SELECT c.token, CAST(count(*) AS DOUBLE) AS freq,
             CAST(sum(p.plen) AS DOUBLE) AS deg
      FROM content c JOIN phrases p ON p.doc_id = c.doc_id AND p.grp = c.grp
      GROUP BY c.token
    ),
    inst AS (
      SELECT p2.doc_id, p2.grp, sum(w.deg / w.freq) AS score
      FROM content c2
      JOIN phrases p2 ON p2.doc_id = c2.doc_id AND p2.grp = c2.grp
      JOIN words w ON w.token = c2.token
      GROUP BY p2.doc_id, p2.grp
    )
    SELECT ph.phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(max(ph.plen) AS BIGINT) AS n_words,
           round(max(s.score) * 1000.0) / 1000.0 AS rake_score
    FROM phrases ph JOIN inst s ON s.doc_id = ph.doc_id AND s.grp = ph.grp
    GROUP BY ph.phrase
    ORDER BY round(max(s.score) * 1000.0) / 1000.0 DESC,
             count(*) DESC, phrase ASC
    LIMIT 15
    """,
)
def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-lite keyphrase extraction: the corpus's top-5 tokens act
    as the stopword list, phrases are the maximal stopword-free runs
    inside each document (the pos − row_number islands trick from
    `user_activity_islands`, applied to token positions), and each
    phrase scores Σ deg(w)/freq(w) over its words — RAKE's
    degree-to-frequency ratio that rewards words living in long
    phrases. Word statistics are one aggregate over the content
    tokens; phrase assembly is ordered in-row concatenation. Top-15
    by the ROUNDED score with occurrence/text tie-breaks keeps the
    cut identical across engines; duplicate phrase texts collapse by
    phrase alone (their per-instance scores agree up to summation
    ulps, absorbed by rounding max())."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "token"),
    )
    stop = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(5)
        .select("token", F.lit(1).alias("is_stop"))
    )
    content = (
        toks.join(F.broadcast(stop), "token", "left")
        .where(F.col("is_stop").isNull())
        .select(
            "doc_id",
            "token",
            "pos",
            (
                F.col("pos")
                - F.row_number().over(
                    W.partitionBy("doc_id").orderBy(F.asc("pos"))
                )
            ).alias("grp"),
        )
    )
    phrases = content.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda x: x["token"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    )
    words = (
        content.join(phrases, ["doc_id", "grp"])
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("double").alias("freq"),
            F.sum("plen").cast("double").alias("deg"),
        )
    )
    inst = (
        content.join(phrases, ["doc_id", "grp"])
        .join(F.broadcast(words), "token")
        .groupBy("doc_id", "grp")
        .agg(F.sum(F.col("deg") / F.col("freq")).alias("score"))
    )
    return (
        phrases.join(inst, ["doc_id", "grp"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("plen").cast("long").alias("n_words"),
            (F.round(F.max("score") * 1000.0) / 1000.0).alias("rake_score"),
        )
        .orderBy(
            F.desc("rake_score"), F.desc("n_occurrences"), F.asc("phrase")
        )
        .limit(15)
    )


@q(
    "event_rolling_median",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day,
             CAST(round(sum(value) * 1000.0) AS BIGINT) AS s
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, day
    ),
    mx AS (SELECT max(day) AS md FROM daily),
    fan AS (
      SELECT d.event_type, unnest(range(d.day, least(d.day + 6, mx.md) + 1))
               AS window_day,
             d.s
      FROM daily d, mx
    )
    SELECT event_type, window_day,
           CAST(count(*) AS BIGINT) AS n_days_in_window,
           round(quantile_cont(s, 0.5) / 1000.0 * 1000.0) / 1000.0
             AS rolling_median
    FROM fan GROUP BY event_type, window_day
    ORDER BY event_type, window_day
    """,
)
def event_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling MEDIAN of daily value totals per event
    type — the robust rolling statistic a few outlier days can't
    drag (unlike `rolling_weekly_revenue`'s rolling sum). Rolling
    order statistics don't decompose into window frames the way sums
    do, so this uses the fan-out-then-aggregate decomposition from
    `rolling_distinct_users`: each day feeds the ≤7 windows it
    belongs to (in-row `sequence`/explode — linear in days×7), then
    ONE grouped exact percentile per (type, window-day). Daily
    totals quantize to integer milli-units first, so the median
    interpolation arithmetic is identical in both engines. At 100 TB
    swap the exact percentile for `percentile_approx` — the fan-out
    shape is unchanged."""
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
    mx = daily.agg(F.max("day").alias("md"))
    fan = (
        daily.crossJoin(F.broadcast(mx))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("day"), F.least(F.col("day") + 6, F.col("md")))
            ).alias("window_day"),
            "s",
        )
    )
    return (
        fan.groupBy("event_type", "window_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days_in_window"),
            (
                F.round(F.percentile("s", F.lit(0.5)) / 1000.0 * 1000.0)
                / 1000.0
            ).alias("rolling_median"),
        )
        .orderBy("event_type", "window_day")
    )
