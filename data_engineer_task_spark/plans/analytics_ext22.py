"""Twenty-third-batch declared queries: Poisson-bootstrap uncertainty,
Holt double-exponential forecasting, and z-order layout auditing.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - Poisson bootstrap CI over order prices (the resampling scheme that
   works when n is too big to materialize B full resamples — each row
   draws an independent Poisson(1) replicate weight, so one scan
   serves all B replicates)
 - Holt linear (level+trend) smoothing per user — the EWMA entry's
   big sibling, run as an in-row ordered STRUCT fold
 - z-order (Morton curve) locality audit — quantifies how well an
   interleaved-bit sort key co-locates two dimensions per file-sized
   bucket, the layout decision behind lakehouse data skipping
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import _SHINGLE_CTE, _hex_int_sql, _near_dup_tail, _t, _t_wide, q

# ---------------------------------------------------------------------------
# Poisson bootstrap
# ---------------------------------------------------------------------------

_B_REPS = 32
# Inverse-CDF cut points of Poisson(1) on the md5-uint16 scale
# (u in [0, 65535]); identical integer literals on both engines.
_POIS_CUTS: list[int] = []
_cum = 0.0
for _k in range(8):
    _cum += math.exp(-1) / math.factorial(_k)
    _POIS_CUTS.append(math.floor(_cum * 65536))


def _pois_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CUTS)
    )
    return f"(CASE {cases} ELSE {len(_POIS_CUTS)} END)"


def _pois_w_col(u):
    w = F.lit(len(_POIS_CUTS))
    for k in range(len(_POIS_CUTS) - 1, -1, -1):
        w = F.when(u < _POIS_CUTS[k], k).otherwise(w)
    return w


# One md5 digest = 128 bits = EIGHT independent 16-bit uniforms, so
# B=32 replicates cost 4 hashes per row, not 32. u for replicate
# b = 8g + j is hex window j of md5('boot:{g}:{key}').
_REPS_PER_HASH = 8
_N_HASH_GROUPS = _B_REPS // _REPS_PER_HASH


def _u16_window_col(h, j: int):
    _HEX = "0123456789abcdef"
    hv = lambda p: F.instr(F.lit(_HEX), F.substring(h, 4 * j + p, 1)) - 1  # noqa: E731
    return ((hv(1) * 16 + hv(2)) * 16 + hv(3)) * 16 + hv(4)


@q(
    "order_price_bootstrap_ci",
    f"""
    WITH hashed AS (
      SELECT o.o_orderkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             gg.g,
             md5('boot:' || CAST(gg.g AS VARCHAR) || ':'
                 || CAST(o.o_orderkey AS VARCHAR)) AS h
      FROM orders o,
           (SELECT unnest(generate_series(0, {_N_HASH_GROUPS - 1})) AS g) gg
    ),
    reps AS (
      SELECT cents, g * {_REPS_PER_HASH} + jj.j AS b,
             CASE jj.j {" ".join(f"WHEN {j} THEN {_hex_int_sql('h', 4, 4 * j + 1)}"
                                 for j in range(_REPS_PER_HASH))} END AS u
      FROM hashed,
           (SELECT unnest(generate_series(0, {_REPS_PER_HASH - 1})) AS j) jj
    ),
    wtd AS (
      SELECT b, cents, {_pois_w_sql("u")} AS w FROM reps
    ),
    est AS (
      SELECT b,
             CAST(sum(w) AS BIGINT) AS n_eff,
             round(sum(w * cents) * 10000.0 / sum(w)) / 10000.0 AS mean_cents
      FROM wtd GROUP BY b HAVING sum(w) > 0
    ),
    point AS (
      SELECT round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) * 10000.0
                   / count(*)) / 10000.0 AS point_mean_cents
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_reps,
           any_value(p.point_mean_cents) AS point_mean_cents,
           round(list_reduce(
                   list_transform(list(e.mean_cents ORDER BY e.b),
                                  x -> round(x * 10000.0)),
                   (a, x) -> a + x)
                 / count(*) / 10000.0 * 10000.0) / 10000.0 AS boot_mean_cents,
           list_sort(list(e.mean_cents))[2] AS ci90_lo_cents,
           list_sort(list(e.mean_cents))[{_B_REPS - 1}] AS ci90_hi_cents
    FROM est e, point p
    """,
)
def order_price_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (the web-scale bootstrap: Chamandy et al.,
    Google 2012) for the mean order price. Materializing B resamples
    of a 100 TB fact table is impossible; instead every row draws an
    independent Poisson(1) weight per replicate — the large-n limit of
    multinomial resampling — so ONE scan with a B-way in-row fan-out
    serves all replicates, and the per-replicate weighted sums are
    map-side combinable into a B-row shuffle. One 128-bit digest
    yields EIGHT independent 16-bit uniforms, so the hash bill is
    B/8 md5s per row — at 100 TB the hash IS the map-stage cost, and
    the windowing is an 8× cut for free. Determinism: the weight
    derives from the salted portable md5 (`boot:{{g}}:` per-hash-group
    salt, CLAUDE.md rule) through exact integer inverse-CDF cut
    points; prices are cents-quantized so replicate means are exact
    integer ratios under a display round, and the bootstrap mean folds
    IN-ROW over the b-ordered replicate list. ci90 = 2nd / 31st order
    statistics of the 32 replicate means (≈ p5 / p95); the HAVING
    sum(w)>0 guard keeps the ANSI division total (a replicate losing
    every row is impossible in practice but must not throw). The
    fan-out input loads via _t_wide: the testdata parquet is a single
    row group, and the 32×·md5-dense map stage must not run in one
    task (at real scale the scan is already multi-partition and the
    repartition is a no-op choice)."""
    orders = _t_wide(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    hashed = orders.select(
        "o_orderkey",
        cents.alias("cents"),
        F.explode(F.sequence(F.lit(0), F.lit(_N_HASH_GROUPS - 1))).alias("g"),
    ).select(
        "cents",
        "g",
        F.md5(
            F.concat(
                F.lit("boot:"),
                F.col("g").cast("string"),
                F.lit(":"),
                F.col("o_orderkey").cast("string"),
            )
        ).alias("h"),
    )
    reps = hashed.select(
        "cents",
        "g",
        F.posexplode(
            F.array(*[_u16_window_col(F.col("h"), j) for j in range(_REPS_PER_HASH)])
        ).alias("j", "u"),
    ).select(
        "cents",
        (F.col("g") * _REPS_PER_HASH + F.col("j")).alias("b"),
        "u",
    )
    wtd = reps.select("b", "cents", _pois_w_col(F.col("u")).alias("w"))
    est = (
        wtd.groupBy("b")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            (
                F.round(F.sum(F.col("w") * F.col("cents")) * 10000.0 / F.sum("w"))
                / 10000.0
            ).alias("mean_cents"),
        )
        .where(F.col("n_eff") > 0)
    )
    point = orders.agg(
        (F.round(F.sum(cents) * 10000.0 / F.count(F.lit(1))) / 10000.0).alias(
            "point_mean_cents"
        )
    )
    by_b = F.array_sort(F.collect_list(F.struct("b", "mean_cents")))
    boot_mean = (
        F.round(
            F.aggregate(
                F.transform(by_b, lambda s: F.round(s["mean_cents"] * 10000.0)),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.count(F.lit(1))
            / 10000.0
            * 10000.0
        )
        / 10000.0
    )
    by_val = F.array_sort(F.collect_list("mean_cents"))
    return est.crossJoin(F.broadcast(point)).agg(
        F.count(F.lit(1)).cast("long").alias("n_reps"),
        F.any_value("point_mean_cents").alias("point_mean_cents"),
        boot_mean.alias("boot_mean_cents"),
        F.element_at(by_val, 2).alias("ci90_lo_cents"),
        F.element_at(by_val, _B_REPS - 1).alias("ci90_hi_cents"),
    )


# ---------------------------------------------------------------------------
# Holt linear smoothing
# ---------------------------------------------------------------------------

_HOLT_A = 0.5  # level smoothing
_HOLT_B = 0.3  # trend smoothing
# The trend update b' = β(l'−l) + (1−β)b collapses algebraically to
# b' = αβ(x−l) + (1−αβ)b, which references each accumulator slot ONCE
# and shares no subexpression with the level update. That form is
# load-bearing: DuckDB 1.0's list_reduce evaluates struct_pack
# accumulator fields SEQUENTIALLY (a later field's acc.l reads the
# field just computed — verified by probe), so the textbook spelling
# silently folds with a corrupted state. A LIST accumulator has no
# such field ordering; both engines fold [l, b] below.
_HOLT_AB = _HOLT_A * _HOLT_B
_HOLT_AB1 = 1 - _HOLT_AB


@q(
    "user_value_holt_forecast",
    f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             round(avg(value) * 1000000.0) / 1000000.0 AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    arr AS (
      SELECT user_id, array_agg(v ORDER BY day ASC) AS vals
      FROM daily GROUP BY user_id HAVING count(*) >= 2
    ),
    fitted AS (
      SELECT user_id, CAST(len(vals) AS BIGINT) AS n_days,
             list_reduce(
               list_prepend(
                 [vals[2], vals[2] - vals[1]],
                 list_transform(vals[3:], x -> [x, 0.0])),
               (acc, e) -> [
                 {_HOLT_A} * e[1] + {1 - _HOLT_A} * (acc[1] + acc[2]),
                 {_HOLT_AB} * (e[1] - acc[1]) + {_HOLT_AB1} * acc[2]
               ]) AS st
      FROM arr
    )
    SELECT user_id, n_days,
           round(st[1] * 10000.0) / 10000.0 AS level,
           round(st[2] * 10000.0) / 10000.0 AS trend,
           round((st[1] + st[2]) * 10000.0) / 10000.0 AS forecast_1,
           round((st[1] + 3 * st[2]) * 10000.0) / 10000.0 AS forecast_3
    FROM fitted ORDER BY user_id
    """,
)
def user_value_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) of each
    user's daily mean value, with 1- and 3-day-ahead forecasts —
    the trend-aware upgrade of `user_value_ewma` and the simplest
    forecaster worth shipping for per-entity metrics. Same in-row
    determinism engineering as the EWMA entry: one shuffle assembles
    the day-sorted array, then the recursion l_t = α·x_t+(1−α)(l+b),
    b_t = β(l_t−l)+(1−β)b runs as an ordered LEFT FOLD over a
    two-slot [level, trend] ARRAY accumulator (F.aggregate ↔ DuckDB
    list_reduce — the vector state is what separates this from a
    scalar fold), initialized the textbook way (l₂=x₂, b₂=x₂−x₁ —
    anchored at the SECOND point so the first fold step consumes x₃
    with an in-sync state; a property test proves the recursion then
    tracks an exactly-linear series exactly. Users need ≥2 days).
    Daily means are 1e-6-quantized first so fold
    inputs are identical constants across engines, and the fp op
    sequence inside the lambda is written identically on both sides
    using the algebraic trend form b' = αβ(x−l) + (1−αβ)b — see the
    _HOLT_AB comment for why that form (and the array state) is
    load-bearing against a DuckDB struct-fold field-ordering bug.
    Per-user day arrays are calendar-bounded, so the in-row state is
    O(days) at any corpus scale."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"), "value")
    )
    daily = ev.groupBy("user_id", "day").agg(
        (F.round(F.avg("value") * 1000000.0) / 1000000.0).alias("v")
    )
    arr = (
        daily.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct("day", "v"))).alias("s"))
        .where(F.size("s") >= 2)
    )
    vals = F.transform(F.col("s"), lambda x: x["v"])
    n = F.size(vals)
    init = F.array(
        F.element_at(vals, 2),
        F.element_at(vals, 2) - F.element_at(vals, 1),
    )
    st = F.aggregate(
        F.slice(vals, 3, F.greatest(n - 2, F.lit(0))),
        init,
        lambda acc, x: F.array(
            F.lit(_HOLT_A) * x
            + F.lit(1 - _HOLT_A) * (F.element_at(acc, 1) + F.element_at(acc, 2)),
            F.lit(_HOLT_AB) * (x - F.element_at(acc, 1))
            + F.lit(_HOLT_AB1) * F.element_at(acc, 2),
        ),
    )
    fitted = arr.select(
        "user_id", n.cast("long").alias("n_days"), st.alias("st")
    )
    lvl, trd = F.element_at("st", 1), F.element_at("st", 2)
    return fitted.select(
        "user_id",
        "n_days",
        (F.round(lvl * 10000.0) / 10000.0).alias("level"),
        (F.round(trd * 10000.0) / 10000.0).alias("trend"),
        (F.round((lvl + trd) * 10000.0) / 10000.0).alias("forecast_1"),
        (F.round((lvl + 3 * trd) * 10000.0) / 10000.0).alias("forecast_3"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Z-order locality
# ---------------------------------------------------------------------------

_Z_BITS = 16
_Z_EPOCH = "1995-01-01"


def _z_sql(x: str, y: str) -> str:
    return " + ".join(
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(_Z_BITS)
    )


def _z_col(x, y):
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


@q(
    "orders_zorder_locality",
    f"""
    WITH keyed AS (
      SELECT o_custkey AS ck,
             (CAST(o_orderdate AS DATE) - DATE '{_Z_EPOCH}') AS dy
      FROM orders
    ),
    z AS (
      SELECT ck, dy,
             ({_z_sql("(ck & 65535)", "(dy & 65535)")}) >> 22 AS bucket
      FROM keyed
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(ck) - min(ck) AS BIGINT) AS cust_span,
           CAST(max(dy) - min(dy) AS BIGINT) AS day_span
    FROM z GROUP BY bucket ORDER BY bucket
    """,
)
def orders_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) layout audit: interleave the bits of
    (customer key, order-day) into one sort key, cut the curve into
    file-sized buckets (top 10 bits → ≤1024 'files'), and measure the
    per-bucket span of EACH dimension. Small spans on both axes are
    precisely what makes lakehouse data skipping work — min/max column
    stats per file prune queries filtering on EITHER dimension,
    unlike a single-column sort which only prunes its leading key.
    The interleave is a fully unrolled 16-bit integer expression
    (pure codegen, exact on both engines — no UDF, no float); the
    audit itself is one map-side-combinable aggregate. At 100 TB the
    same z-value IS the repartitionByRange key a writer would use;
    dimensions are grid-quantized to 2^16 cells (the & 65535), which
    is the standard curve resolution trade-off."""
    keyed = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        # LONG, not the datediff default int: a date before the epoch
        # sets bit 15 after the mask, and (1 << 31) in 32-bit Java
        # arithmetic wraps negative while DuckDB's DATE−DATE math is
        # BIGINT — the interleave must run in 64-bit on both engines.
        F.datediff(F.col("o_orderdate"), F.lit(_Z_EPOCH))
        .cast("long")
        .alias("dy"),
    )
    z = keyed.select(
        "ck",
        "dy",
        F.shiftright(
            _z_col(
                F.col("ck").bitwiseAND(F.lit(65535)),
                F.col("dy").bitwiseAND(F.lit(65535)),
            ),
            22,
        ).alias("bucket"),
    )
    return (
        z.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.max("ck") - F.min("ck")).cast("long").alias("cust_span"),
            (F.max("dy") - F.min("dy")).cast("long").alias("day_span"),
        )
        .select(F.col("bucket").cast("long").alias("bucket"), "n_orders", "cust_span", "day_span")
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# LSH recall evaluation and per-group OLS trend
# ---------------------------------------------------------------------------


# Deterministic ~25% doc sample for the recall evaluation (engine-
# portable salted md5 byte — own salt so membership is independent of
# the split/stratum/sample operators, per the sampling-salt rule).
_LSHR_BYTE = _hex_int_sql("md5('lshr:' || CAST(doc_id AS VARCHAR))", 2)


@q(
    "lsh_recall_vs_exact",
    f"""
    WITH sdocs AS (SELECT * FROM documents WHERE {_LSHR_BYTE} < 64),
    {_SHINGLE_CTE.replace("FROM documents", "FROM sdocs")},
    {_near_dup_tail(band_size=2, as_cte=True)},
    einter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
      FROM sets a JOIN sets b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    ep AS (
      SELECT id_a, id_b
      FROM einter
      JOIN sizes za ON id_a = za.doc_id
      JOIN sizes zb ON id_b = zb.doc_id
      WHERE ni * 1.0 / (za.n + zb.n - ni) >= 0.5
    ),
    flags AS (
      SELECT CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_l
      FROM ep e LEFT JOIN cand c ON e.id_a = c.id_a AND e.id_b = c.id_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(in_l) AS BIGINT) AS n_lsh,
           CAST(sum(in_l) AS BIGINT) AS n_hit,
           CASE WHEN count(*) > 0
                THEN round(sum(in_l) * 10000.0 / count(*)) / 10000.0
           END AS recall
    FROM flags
    """,
)
def lsh_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the dedup evaluation loop: MinHash→LSH banding is a
    RECALL gamble (8 hashes × 4 bands of 2 ⇒ P[candidate] = 1−(1−j²)⁴,
    ~0.86 at j=0.5), and this entry MEASURES the gamble against the
    exact PPJoin similarity join at the same 0.5 threshold — the
    number that justifies band/hash sizing in production. Because the
    LSH pipeline exact-verifies its candidates (true-J membership),
    its surviving pair set is exactly (exact pairs ∩ band candidates)
    — PPJoin is lossless at the threshold, so LSH verification is a
    subset of work the exact join already did. The entry therefore
    runs the exact join ONCE and intersects with the raw candidate
    set instead of re-verifying: identical numbers (precision 1.0,
    n_lsh = n_hit ≤ n_exact — every shortfall a banding miss), one
    full verification phase saved (r2 bench-tail fix, part 1). Part
    2: the evaluation runs on a deterministic ~25% md5-sampled doc
    subset (salt ``lshr:``) — recall is a corpus-level RATE, so
    estimating it on a stable sample is the production shape; at
    100 TB you'd shrink the rate further. Both pair sets still come
    from the bucketed operators, never all-pairs; the comparison is
    a pair-key left join collapsing to one summary row."""
    from ..operators.dedup import (
        jaccard_join_exact,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_set,
    )
    from ..operators.sampling import _md5_byte0

    docs = _t_wide(spark, sf_dir, "documents").where(
        _md5_byte0(F.col("doc_id"), salt="lshr:") < 64
    )
    # ONE shingle build persisted and shared by both pipelines — each
    # operator would otherwise build + persist its own copy of the
    # widest frame (code-review r2 catch).
    sets = shingle_set(docs, "doc_id", "text", shingle_k=3).persist()
    sets.count()
    exact = jaccard_join_exact(
        docs, "doc_id", "text", threshold=0.5, shingle_k=3, shingle_sets=sets
    ).select("id_a", "id_b")
    sigs = minhash_signatures(
        docs, "doc_id", "text", n_hashes=8, shingle_sets=sets
    )
    cands = lsh_candidate_pairs(sigs, "doc_id", n_hashes=8, band_size=2).select(
        "id_a", "id_b", F.lit(1).alias("in_l")
    )
    flags = exact.join(cands, ["id_a", "id_b"], "left").select(
        F.coalesce("in_l", F.lit(0)).alias("in_l")
    )
    recall = F.when(
        F.count(F.lit(1)) > 0,
        F.round(F.sum("in_l") * 10000.0 / F.count(F.lit(1))) / 10000.0,
    )
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum("in_l").cast("long").alias("n_lsh"),
        F.sum("in_l").cast("long").alias("n_hit"),
        recall.alias("recall"),
    )


_OLS_EPOCH = "1995-01-01"


@q(
    "nation_revenue_trend_ols",
    f"""
    WITH daily AS (
      SELECT n.n_name AS nation,
             (CAST(o.o_orderdate AS DATE) - DATE '{_OLS_EPOCH}') AS x,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    s AS (
      SELECT nation,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY nation HAVING count(*) >= 2
    )
    SELECT nation, n AS n_days,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN round((n * sxy - sx * sy) * 10000.0
                           / (n * sxx - sx * sx)) / 10000.0
           END AS slope_cents_per_day,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN round((CAST(sy AS DOUBLE)
                            - (CAST(n * sxy - sx * sy AS DOUBLE)
                               / (n * sxx - sx * sx)) * sx)
                           * 100.0 / n) / 100.0
           END AS intercept_cents
    FROM s ORDER BY nation
    """,
)
def nation_revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: closed-form least-squares slope and
    intercept of daily revenue against the day index — the
    data-parallel regression shape (collapse the fact to per-group
    sufficient statistics, solve in closed form; no iterative
    optimizer, no driver state). Determinism engineering: x is an
    integer day index and y an exact cents integer, so n, Σx, Σy,
    Σxy, Σx² are all EXACT integer aggregates (map-side combinable,
    immune to float re-association); the slope/intercept then derive
    from those exact integers through an identical fp op sequence on
    both engines. Magnitude check: Σxy ≤ days·maxday·maxdaily ≈
    2.4e3·2.4e3·6e7 ≈ 3.5e14 at sf0.1 — five orders below BIGINT
    overflow, and the day grain keeps growth linear in calendar, not
    rows. The dims broadcast into the fact scan (star shape); the
    daily collapse is the only fact shuffle."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        # customer is CORPUS-scale (grows with SF) — unhinted, AQE
        # picks the strategy; only the 25-row nation dim is forced.
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.datediff("o_orderdate", F.lit(_OLS_EPOCH)).alias("x"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    s = (
        daily.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
        .where(F.col("n") >= 2)
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(den != 0, F.round(num * 10000.0 / den) / 10000.0)
    intercept = F.when(
        den != 0,
        F.round(
            (
                F.col("sy").cast("double")
                - (num.cast("double") / den) * F.col("sx")
            )
            * 100.0
            / F.col("n")
        )
        / 100.0,
    )
    return s.select(
        "nation",
        F.col("n").alias("n_days"),
        slope.alias("slope_cents_per_day"),
        intercept.alias("intercept_cents"),
    ).orderBy("nation")
