"""Twenty-seventh batch: KMV distinct-count sketches — mergeable
cardinality estimation (`operators/sketch.py::kmv_*`), the sketch-side
counterpart of the exact COUNT(DISTINCT) entries the same way the CMS
family shadows the exact token-frequency table.

Reference scope note: the reference (``coded4alex/data_engineer_task``)
has no approximate operators (SURVEY §2.5); this extends the engine for
the 100 TB workload where distinct counts (active user-days, audience
overlap) are kept as O(k) mergeable sketches, never recounted from raw
events. Both entries are deterministic end-to-end: every membership /
rank decision rides exact 48-bit integer hashes (engine-portable salted
md5), and the only floats are single correctly-rounded IEEE divisions
of exactly-representable doubles — bitwise identical cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import kmv_estimate, kmv_hash, kmv_sketch
from .registry import _K, _KMV_SCALE, _hex_int_sql, _t, q

_UD_V_SQL = "CAST(user_id AS VARCHAR) || '|' || strftime(ts, '%Y-%m-%d')"


@q(
    "event_kmv_user_days",
    f"""
    WITH ud AS (
      SELECT DISTINCT event_type, {_UD_V_SQL} AS v FROM events
    ),
    hs AS (
      SELECT DISTINCT event_type, CAST({_hex_int_sql("md5('kmv:' || v)", 12)} AS BIGINT) AS h FROM ud
    ),
    rk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hs
    ),
    sk AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_sketch,
             max(h) AS hk
      FROM rk WHERE rn <= {_K} GROUP BY event_type
    ),
    ex AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
      FROM ud GROUP BY event_type
    ),
    j AS (
      SELECT ex.event_type, n_exact, n_sketch,
             CASE WHEN n_sketch < {_K} THEN CAST(n_sketch AS DOUBLE)
                  ELSE {_KMV_SCALE} / CAST(hk AS DOUBLE) END AS raw
      FROM ex JOIN sk ON ex.event_type = sk.event_type
    )
    SELECT event_type, n_exact, n_sketch,
           round(raw * 10000.0) / 10000.0 AS kmv_est,
           round(((raw - CAST(n_exact AS DOUBLE))
                  / CAST(n_exact AS DOUBLE)) * 100.0 * 10000.0) / 10000.0
             AS rel_err_pct
    FROM j ORDER BY event_type
    """,
)
def event_kmv_user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active user-days per event type — exact count next to
    its KMV(k=64) sketch estimate and the realized relative error; the
    DAU-class cardinality that at 100 TB is kept as an O(k) mergeable
    sketch per shard/day (`kmv_merge` folds partials ≡ one-shot,
    property-tested) instead of re-shuffling every distinct value.

    Spark shape: ONE events scan fans into (a) the exact distinct
    count (the oracle-able small-scale truth) and (b) the sketch path,
    whose only corpus-sized exchange carries one row per distinct
    (event_type, 48-bit hash) with map-side partial distinct; the
    rank-k window then reduces each group to 64 rows, and the estimate
    is O(groups) state. DETERMINISM: ranks/membership ride exact
    integer hashes; `kmv_raw` is one IEEE division of exactly-
    representable doubles (see operators/sketch.py), so the display
    rounds sit on bitwise-identical floats."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "event_type",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("|"),
            F.date_format("ts", "yyyy-MM-dd"),
        ).alias("v"),
    ).distinct()
    exact = ud.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    est = kmv_estimate(
        kmv_sketch(ud, "v", k=_K, group_cols=("event_type",)),
        k=_K,
        group_cols=("event_type",),
    )
    n = F.col("n_exact").cast("double")
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_sketch",
            (F.round(F.col("kmv_raw") * 10000.0) / 10000.0).alias("kmv_est"),
            (
                F.round(
                    ((F.col("kmv_raw") - n) / n) * 100.0 * 10000.0
                )
                / 10000.0
            ).alias("rel_err_pct"),
        )
        .orderBy("event_type")
    )


@q(
    "audience_kmv_jaccard",
    f"""
    WITH ud AS (
      SELECT DISTINCT event_type, {_UD_V_SQL} AS v
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    hs AS (
      SELECT DISTINCT event_type, CAST({_hex_int_sql("md5('kmv:' || v)", 12)} AS BIGINT) AS h FROM ud
    ),
    rk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hs
    ),
    sk AS (SELECT event_type, h FROM rk WHERE rn <= {_K}),
    su AS (
      SELECT h FROM (SELECT DISTINCT h FROM sk) ORDER BY h LIMIT {_K}
    ),
    uagg AS (
      SELECT CAST(count(*) AS BIGINT) AS nu, max(h) AS hku FROM su
    ),
    rho AS (
      SELECT CAST(count(*) AS BIGINT) AS r
      FROM su
      WHERE h IN (SELECT h FROM sk WHERE event_type = 'click')
        AND h IN (SELECT h FROM sk WHERE event_type = 'purchase')
    ),
    ex AS (
      SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
             CAST(sum(in_b) AS BIGINT) AS n_b,
             CAST(sum(in_a * in_b) AS BIGINT) AS n_inter
      FROM (
        SELECT v,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS in_b
        FROM ud GROUP BY v
      )
    ),
    calc AS (
      SELECT n_a, n_b, n_inter,
             CAST(n_inter AS DOUBLE)
               / CAST(n_a + n_b - n_inter AS DOUBLE) AS jacc_exact_raw,
             CAST(r AS DOUBLE)
               / CAST(CASE WHEN nu < {_K} THEN nu ELSE {_K} END AS DOUBLE)
               AS jacc_kmv_raw,
             CASE WHEN nu < {_K} THEN CAST(nu AS DOUBLE)
                  ELSE {_KMV_SCALE} / CAST(hku AS DOUBLE) END AS union_raw
      FROM ex, uagg, rho
    )
    SELECT n_a, n_b, n_inter,
           round(jacc_exact_raw * 1000000.0) / 1000000.0 AS jaccard_exact,
           round(jacc_kmv_raw * 1000000.0) / 1000000.0 AS jaccard_kmv,
           round(union_raw * 10000.0) / 10000.0 AS union_kmv_est,
           round(jacc_kmv_raw * union_raw * 10000.0) / 10000.0
             AS inter_kmv_est
    FROM calc
    """,
)
def audience_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style audience overlap: Jaccard and intersection
    of the click vs purchase user-day sets estimated from two KMV(64)
    sketches — union = k-min of the merged sketches (exact, because
    the k smallest of A ∪ B all lie in k-min(A) ∪ k-min(B)), ρ = the
    union sketch's members present in BOTH input sketches, so
    Ĵ = ρ/k and |A∩B|^ = Ĵ · n̂_union — next to the exact answers.
    At 100 TB this is how audience overlap matrices are computed:
    per-audience O(k) sketches pairwise-combined, never a corpus join.

    Spark shape: one filtered events scan → distinct (audience, hash)
    exchange → rank-k windows; everything after the sketches is O(k)
    (the union re-min, the two semi-join membership flags, and four
    single-row aggregates attached by the sanctioned broadcast-scalar
    crossJoins). DETERMINISM: membership/ranks are exact-integer; the
    three raw estimates are fixed sequences of correctly-rounded IEEE
    ops on bitwise-identical doubles, spelled identically both sides
    before the display rounds."""
    ev = _t(spark, sf_dir, "events")
    ud = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_type",
            F.concat(
                F.col("user_id").cast("string"),
                F.lit("|"),
                F.date_format("ts", "yyyy-MM-dd"),
            ).alias("v"),
        )
        .distinct()
    )
    # exact side: per-v membership-flag collapse, no self-join
    ex = ud.groupBy("v").agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("in_a"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("in_b"),
    )
    exact = ex.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_inter"),
    )
    sk = kmv_sketch(ud, "v", k=_K, group_cols=("event_type",))
    su = sk.select("h").distinct().orderBy("h").limit(_K)
    uagg = su.agg(
        F.count(F.lit(1)).cast("long").alias("nu"), F.max("h").alias("hku")
    )
    sa = sk.where(F.col("event_type") == "click").select("h")
    sb = sk.where(F.col("event_type") == "purchase").select("h")
    rho = (
        su.join(sa, "h", "semi")
        .join(sb, "h", "semi")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    scale = F.lit(float((_K - 1) << 48))
    denom = F.when(F.col("nu") < _K, F.col("nu")).otherwise(F.lit(_K))
    calc = (
        exact.crossJoin(F.broadcast(uagg))
        .crossJoin(F.broadcast(rho))
        .select(
            "n_a",
            "n_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jacc_exact_raw"),
            (F.col("r").cast("double") / denom.cast("double")).alias(
                "jacc_kmv_raw"
            ),
            F.when(F.col("nu") < _K, F.col("nu").cast("double"))
            .otherwise(scale / F.col("hku").cast("double"))
            .alias("union_raw"),
        )
    )
    return calc.select(
        "n_a",
        "n_b",
        "n_inter",
        (F.round(F.col("jacc_exact_raw") * 1000000.0) / 1000000.0).alias(
            "jaccard_exact"
        ),
        (F.round(F.col("jacc_kmv_raw") * 1000000.0) / 1000000.0).alias(
            "jaccard_kmv"
        ),
        (F.round(F.col("union_raw") * 10000.0) / 10000.0).alias(
            "union_kmv_est"
        ),
        (
            F.round(F.col("jacc_kmv_raw") * F.col("union_raw") * 10000.0)
            / 10000.0
        ).alias("inter_kmv_est"),
    )
