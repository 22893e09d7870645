"""Eighth-batch declared queries: LM-based quality scoring, drift
detection, experimentation stats, feature binning, association rules,
and spatial grid joins.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - per-document bigram-LM perplexity (the CCNet-style quality signal
   that LLM data pipelines filter on — low-perplexity ≈ fluent text)
 - population stability index (PSI) between time halves — the
   standard production drift monitor for a feature distribution
 - A/B-test two-proportion z statistic with deterministic hash-based
   variant assignment (the experimentation readout)
 - weight-of-evidence (WOE) decile binning + information value — the
   classic supervised categorical encoding for risk models
 - market-basket association rules (support / confidence / lift)
 - grid-bucketed spatial proximity join — the canonical distributed
   spatial-join decomposition (cell equi-join + exact distance refine)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.sampling import _md5_byte0, _md5_uint16
from .registry import _hex_int_sql, _t, _t_wide, q
from ..sources.catalog import gated_broadcast


@q(
    "doc_bigram_perplexity",
    """
    WITH toks AS (
      SELECT doc_id, lang, t.token, t.pos
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS token,
                           generate_subscripts(string_split(text, ' '), 1) AS pos) t
    ),
    uni AS (SELECT token, CAST(count(*) AS DOUBLE) AS u FROM toks GROUP BY token),
    v AS (SELECT CAST(count(*) AS DOUBLE) AS vsz FROM uni),
    bi AS (
      SELECT a.doc_id, a.lang, a.token AS w1, b.token AS w2
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ),
    bc AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12 FROM bi GROUP BY w1, w2)
    SELECT bi.doc_id, bi.lang, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(exp(-sum(ln((bc.c12 + 1.0) / (uni.u + v.vsz))) / count(*))
                 * 1000000.0) / 1000000.0 AS ppl
    FROM bi
    JOIN bc ON bc.w1 = bi.w1 AND bc.w2 = bi.w2
    JOIN uni ON uni.token = bi.w1
    CROSS JOIN v
    GROUP BY bi.doc_id, bi.lang ORDER BY bi.doc_id
    """,
)
def doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an add-one-smoothed corpus bigram
    LM — the CCNet/Wikipedia-LM quality signal LLM pipelines use to
    rank text fluency (filtering the high-perplexity tail is the
    classic quality gate). P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V); per doc
    ppl = exp(-mean ln P) over its bigram instances. Bigrams are built
    IN-ROW (arrays_zip of the token tail, no positional self-join);
    the count tables come from two token aggregates, then bigram
    instances re-join their corpus statistics. At 100 TB the
    (w1,w2)-count join is a plain key-shuffle equi-join (vocabulary is
    too big to broadcast — do NOT hint it); the one-row vocab size
    broadcasts. Docs with <2 tokens have no bigrams and drop out of
    both engines identically. ppl arrives via exp(sum(ln ...)) — the
    1e-6 round absorbs fp summation-order noise."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(toks, 1, n1).alias("w1"), F.slice(toks, 2, n1).alias("w2")
    )
    bi = docs.select(
        "doc_id", "lang", F.explode(pairs).alias("p")
    ).select("doc_id", "lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    uni = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("double").alias("u"))
    )
    vsz = uni.agg(F.count(F.lit(1)).cast("double").alias("vsz"))
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("c12"))
    logp = F.log((F.col("c12") + 1.0) / (F.col("u") + F.col("vsz")))
    return (
        bi.join(bc, ["w1", "w2"])
        .join(uni.withColumnRenamed("token", "w1"), "w1")
        .crossJoin(F.broadcast(vsz))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (
                F.round(F.exp(-F.sum(logp) / F.count(F.lit(1))) * 1000000.0)
                / 1000000.0
            ).alias("ppl"),
        )
        .orderBy("doc_id")
    )


@q(
    "event_value_psi",
    """
    WITH vb AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
    tb AS (SELECT min(epoch_ns(ts) // 1000) AS tmn,
                  max(epoch_ns(ts) // 1000) AS tmx FROM events),
    e AS (
      SELECT event_type,
             CAST(least(floor((value - vb.mn) / ((vb.mx - vb.mn) / 10.0)), 9) AS INT)
               AS bin,
             CASE WHEN epoch_ns(ts) // 1000
                       < tb.tmn + (tb.tmx - tb.tmn) // 2 THEN 1 ELSE 0 END AS early
      FROM events, vb, tb
    ),
    cells AS (
      SELECT event_type, bin,
             CAST(sum(early) AS DOUBLE) AS n_early,
             CAST(sum(1 - early) AS DOUBLE) AS n_late
      FROM e GROUP BY event_type, bin
    ),
    t AS (
      SELECT cells.*,
             sum(n_early) OVER (PARTITION BY event_type) AS ne,
             sum(n_late) OVER (PARTITION BY event_type) AS nl,
             CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS k
      FROM cells
    )
    SELECT event_type, CAST(max(k) AS BIGINT) AS n_bins,
           CAST(sum(n_early) AS BIGINT) AS n_early,
           CAST(sum(n_late) AS BIGINT) AS n_late,
           round(sum(((n_early + 1.0) / (ne + k) - (n_late + 1.0) / (nl + k))
                     * ln(((n_early + 1.0) / (ne + k))
                          / ((n_late + 1.0) / (nl + k))))
                 * 1000000.0) / 1000000.0 AS psi
    FROM t GROUP BY event_type ORDER BY event_type
    """,
)
def event_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the `value` distribution between
    the early and late time halves, per event type — the standard
    production drift monitor (PSI < 0.1 stable, > 0.25 major shift).
    Values land in 10 equi-width bins over the global [min, max]
    (identical IEEE arithmetic both engines, so bin membership is
    exact); shares are Laplace-smoothed by the PER-TYPE observed bin
    count k so empty-in-one-half bins stay finite and both engines
    divide by the same denominator. Scale shape: one fact aggregate
    collapses to ≤ |types|·10 cells; marginals are windows over that
    tiny frame — the fact table is scanned once (the two one-row
    bound frames piggyback as broadcast crossJoins)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    vb = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    tb = ev.agg(F.min("us").alias("tmn"), F.max("us").alias("tmx"))
    mid = F.col("tmn") + F.floor((F.col("tmx") - F.col("tmn")) / 2)
    cells = (
        ev.crossJoin(F.broadcast(vb))
        .crossJoin(F.broadcast(tb))
        .select(
            "event_type",
            F.least(
                F.floor(
                    (F.col("value") - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / 10.0)
                ),
                F.lit(9),
            )
            .cast("int")
            .alias("bin"),
            F.when(F.col("us") < mid, 1).otherwise(0).alias("early"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum("early").cast("double").alias("n_early"),
            F.sum(1 - F.col("early")).cast("double").alias("n_late"),
        )
    )
    w = W.partitionBy("event_type")
    t = cells.select(
        "event_type",
        "n_early",
        "n_late",
        F.sum("n_early").over(w).alias("ne"),
        F.sum("n_late").over(w).alias("nl"),
        F.count(F.lit(1)).over(w).cast("double").alias("k"),
    )
    p = (F.col("n_early") + 1.0) / (F.col("ne") + F.col("k"))
    qq = (F.col("n_late") + 1.0) / (F.col("nl") + F.col("k"))
    return (
        t.groupBy("event_type")
        .agg(
            F.max("k").cast("long").alias("n_bins"),
            F.sum("n_early").cast("long").alias("n_early"),
            F.sum("n_late").cast("long").alias("n_late"),
            (F.round(F.sum((p - qq) * F.log(p / qq)) * 1000000.0) / 1000000.0).alias(
                "psi"
            ),
        )
        .orderBy("event_type")
    )


@q(
    "ab_test_purchase_lift",
    f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN {_hex_int_sql("md5('ab:' || CAST(user_id AS VARCHAR))", 2)} % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS DOUBLE) AS na,
             CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS DOUBLE) AS ca,
             CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
             CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS DOUBLE) AS cb
      FROM u
    )
    SELECT CAST(na AS BIGINT) AS users_a, CAST(ca AS BIGINT) AS conv_a,
           CAST(nb AS BIGINT) AS users_b, CAST(cb AS BIGINT) AS conv_b,
           round((ca / nullif(na, 0.0)) * 1000000.0) / 1000000.0 AS rate_a,
           round((cb / nullif(nb, 0.0)) * 1000000.0) / 1000000.0 AS rate_b,
           round(((ca / nullif(na, 0.0) - cb / nullif(nb, 0.0))
                  / nullif(sqrt(((ca + cb) / (na + nb))
                                * (1.0 - (ca + cb) / (na + nb))
                                * (1.0 / nullif(na, 0.0) + 1.0 / nullif(nb, 0.0))),
                           0.0))
                 * 1000000.0) / 1000000.0 AS z
    FROM s
    """,
)
def ab_test_purchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users are deterministically assigned to
    variants by salted md5 parity ('ab:' salt keeps assignment
    independent of every sampling operator's hash — see
    operators/sampling.py), conversion = the user ever fired a
    'purchase' event, and the two-proportion pooled z statistic tests
    rate_A = rate_B. Hash assignment is the production pattern
    (stable across runs/engines, no assignment table to join); the
    whole readout is one per-user aggregate (key shuffle) collapsing
    to a single row — at 100 TB the per-user max() combines
    map-side, so the shuffle carries one row per user, not per
    event. All ratios are single fp expressions over exact integer
    counts — bit-identical across engines before the display round;
    degenerate arms (an empty variant, or pooled rate 0/1) NULL the
    affected statistics via nullif instead of throwing under ANSI
    division."""
    ev = _t(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select(
            F.when(_md5_byte0(F.col("user_id"), salt="ab:") % 2 == 0, "A")
            .otherwise("B")
            .alias("variant"),
            "conv",
        )
    )
    s = u.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("double")
        .alias("na"),
        F.sum(F.when(F.col("variant") == "A", F.col("conv")).otherwise(0))
        .cast("double")
        .alias("ca"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("double")
        .alias("nb"),
        F.sum(F.when(F.col("variant") == "B", F.col("conv")).otherwise(0))
        .cast("double")
        .alias("cb"),
    )
    na = F.nullif(F.col("na"), F.lit(0.0))
    nb = F.nullif(F.col("nb"), F.lit(0.0))
    pa, pb = F.col("ca") / na, F.col("cb") / nb
    pp = (F.col("ca") + F.col("cb")) / (F.col("na") + F.col("nb"))
    z = (pa - pb) / F.nullif(
        F.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)), F.lit(0.0)
    )
    return s.select(
        F.col("na").cast("long").alias("users_a"),
        F.col("ca").cast("long").alias("conv_a"),
        F.col("nb").cast("long").alias("users_b"),
        F.col("cb").cast("long").alias("conv_b"),
        (F.round(pa * 1000000.0) / 1000000.0).alias("rate_a"),
        (F.round(pb * 1000000.0) / 1000000.0).alias("rate_b"),
        (F.round(z * 1000000.0) / 1000000.0).alias("z"),
    )


@q(
    "order_price_woe_bins",
    """
    WITH r AS (
      SELECT o_totalprice,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad,
             ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS bin
      FROM orders
    ),
    c AS (
      SELECT bin, CAST(count(*) AS DOUBLE) AS n, CAST(sum(bad) AS DOUBLE) AS nb
      FROM r GROUP BY bin
    ),
    t AS (SELECT c.*, sum(n) OVER () AS tot, sum(nb) OVER () AS b FROM c)
    SELECT bin, CAST(n AS BIGINT) AS n_orders, CAST(nb AS BIGINT) AS n_bad,
           round(ln((((n - nb) + 0.5) / ((tot - b) + 5.0)) / ((nb + 0.5) / (b + 5.0)))
                 * 1000000.0) / 1000000.0 AS woe,
           round(((((n - nb) + 0.5) / ((tot - b) + 5.0)) - ((nb + 0.5) / (b + 5.0)))
                 * ln((((n - nb) + 0.5) / ((tot - b) + 5.0)) / ((nb + 0.5) / (b + 5.0)))
                 * 1000000.0) / 1000000.0 AS iv_term
    FROM t ORDER BY bin
    """,
)
def order_price_woe_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding of order price vs the binary
    'finished' label (o_orderstatus = 'F'): decile-bin the price,
    then per bin WOE = ln(good-share / bad-share) with +0.5 Laplace
    smoothing (finite even for pure bins), plus the information-value
    term whose column sum is the feature's IV — the classic
    supervised binning for risk scorecards and a leakage-free
    categorical encoder. ntile ties break on o_orderkey so both
    engines assign identical bins. The oracle keeps the literal
    ntile; the Spark plan computes the IDENTICAL deciles without a
    single-partition window (the r4 allowlist's documented swap, now
    landed): ``ordered_prefix`` global ranks (range-bucket two-level,
    exact-integer offsets) + ``ntile_of_rank`` integer bucket
    arithmetic — no float can flip a bin edge."""
    from ..operators.ranking import ntile_of_rank, ordered_prefix

    orders = _t(spark, sf_dir, "orders")
    # persisted (ADVICE r5): the count, both ordered_prefix aux jobs,
    # and the final window re-scan this projection otherwise.
    base = orders.select(
        "o_totalprice",
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
    ).persist()
    n = base.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    r = (
        ordered_prefix(
            base, "o_totalprice", ["o_orderkey"], rank_col="_r", buckets=32
        )
        .crossJoin(F.broadcast(n))
        .select(
            "bad",
            ntile_of_rank(F.col("_r"), F.col("_n"), 10).alias("bin"),
        )
    )
    c = r.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("bad").cast("double").alias("nb"),
    )
    t = c.select(
        "bin",
        "n",
        "nb",
        F.sum("n").over(W.partitionBy()).alias("tot"),
        F.sum("nb").over(W.partitionBy()).alias("b"),
    )
    good_share = ((F.col("n") - F.col("nb")) + 0.5) / (
        (F.col("tot") - F.col("b")) + 5.0
    )
    bad_share = (F.col("nb") + 0.5) / (F.col("b") + 5.0)
    woe = F.log(good_share / bad_share)
    return (
        t.select(
            "bin",
            F.col("n").cast("long").alias("n_orders"),
            F.col("nb").cast("long").alias("n_bad"),
            (F.round(woe * 1000000.0) / 1000000.0).alias("woe"),
            (F.round((good_share - bad_share) * woe * 1000000.0) / 1000000.0).alias(
                "iv_term"
            ),
        )
        .orderBy("bin")
    )


@q(
    "brand_basket_rules",
    """
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    nord AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n FROM ob),
    bc AS (SELECT p_brand, CAST(count(*) AS DOUBLE) AS nb FROM ob GROUP BY p_brand),
    pairs AS (
      SELECT a.p_brand AS b1, b.p_brand AS b2, CAST(count(*) AS DOUBLE) AS np
      FROM ob a JOIN ob b ON b.l_orderkey = a.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY a.p_brand, b.p_brand
    )
    SELECT b1, b2, CAST(np AS BIGINT) AS n_both,
           round((np / nord.n) * 1000000.0) / 1000000.0 AS support,
           round((np / c1.nb) * 1000000.0) / 1000000.0 AS conf_fwd,
           round((np / c2.nb) * 1000000.0) / 1000000.0 AS conf_rev,
           round((np * nord.n / (c1.nb * c2.nb)) * 1000000.0) / 1000000.0 AS lift
    FROM pairs, nord
    JOIN bc c1 ON c1.p_brand = pairs.b1
    JOIN bc c2 ON c2.p_brand = pairs.b2
    WHERE np / nord.n >= 0.005
    ORDER BY np * nord.n / (c1.nb * c2.nb) DESC, b1 ASC, b2 ASC
    LIMIT 20
    """,
)
def brand_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over brands co-purchased in one
    order: support, both-direction confidence, and lift for the top-20
    highest-lift brand pairs above minimum support. The pair build is
    an equi-self-join on the order key of the DISTINCT (order, brand)
    set — fan-out is bounded by brands-per-order (≤ items-per-order),
    never |brands|². Brand marginals (|brands| rows) broadcast onto
    the pair aggregate, so the only real shuffles are the distinct
    and the pair count. Lift is a single fp expression over exact
    integer counts — bit-identical both engines — so ordering by the
    RAW lift (tie-broken by pair) picks the same 20 rows before the
    display round. At 100 TB this is the FPGrowth-1/2-itemset pass;
    deeper itemsets iterate the same join shape."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(gated_broadcast(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    nord = ob.agg(F.countDistinct("l_orderkey").cast("double").alias("n"))
    bc = ob.groupBy("p_brand").agg(F.count(F.lit(1)).cast("double").alias("nb"))
    a = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("b1"))
    b = ob.select(
        F.col("l_orderkey").alias("l_orderkey2"), F.col("p_brand").alias("b2")
    )
    pairs = (
        a.join(b, (a.l_orderkey == b.l_orderkey2) & (F.col("b1") < F.col("b2")))
        .groupBy("b1", "b2")
        .agg(F.count(F.lit(1)).cast("double").alias("np"))
    )
    c1 = bc.select(F.col("p_brand").alias("b1"), F.col("nb").alias("nb1"))
    c2 = bc.select(F.col("p_brand").alias("b2"), F.col("nb").alias("nb2"))
    lift = F.col("np") * F.col("n") / (F.col("nb1") * F.col("nb2"))
    return (
        pairs.crossJoin(F.broadcast(nord))
        .join(F.broadcast(c1), "b1")
        .join(F.broadcast(c2), "b2")
        .where(F.col("np") / F.col("n") >= 0.005)
        .orderBy(F.desc(lift), F.asc("b1"), F.asc("b2"))
        .limit(20)
        .select(
            "b1",
            "b2",
            F.col("np").cast("long").alias("n_both"),
            (F.round(F.col("np") / F.col("n") * 1000000.0) / 1000000.0).alias(
                "support"
            ),
            (F.round(F.col("np") / F.col("nb1") * 1000000.0) / 1000000.0).alias(
                "conf_fwd"
            ),
            (F.round(F.col("np") / F.col("nb2") * 1000000.0) / 1000000.0).alias(
                "conf_rev"
            ),
            (F.round(lift * 1000000.0) / 1000000.0).alias("lift"),
        )
    )


_GRID_R = 4.0  # degrees; cell size == radius so 3×3 neighborhood suffices


def _coord_sql(key: str, salt: str, span: float, off: float) -> str:
    u16 = _hex_int_sql(f"md5('{salt}' || {key})", 4)
    return f"({u16} / 65536.0 * {span} - {off})"


@q(
    "customer_supplier_grid_join",
    f"""
    WITH c AS (
      SELECT c_custkey,
             {_coord_sql("CAST(c_custkey AS VARCHAR)", "clat:", 180.0, 90.0)} AS lat,
             {_coord_sql("CAST(c_custkey AS VARCHAR)", "clon:", 360.0, 180.0)} AS lon
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             {_coord_sql("CAST(s_suppkey AS VARCHAR)", "slat:", 180.0, 90.0)} AS lat,
             {_coord_sql("CAST(s_suppkey AS VARCHAR)", "slon:", 360.0, 180.0)} AS lon
      FROM supplier
    ),
    sx AS (
      SELECT s.*, CAST(floor(lat / {_GRID_R}) AS INT) + dy.dy AS cy,
             CAST(floor(lon / {_GRID_R}) AS INT) + dx.dx AS cx
      FROM s
      CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
      CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)
    )
    SELECT c.c_custkey, sx.s_suppkey,
           round(sqrt((c.lat - sx.lat) * (c.lat - sx.lat)
                      + (c.lon - sx.lon) * (c.lon - sx.lon)) * 1000000.0)
             / 1000000.0 AS dist_deg
    FROM c JOIN sx
      ON CAST(floor(c.lat / {_GRID_R}) AS INT) = sx.cy
     AND CAST(floor(c.lon / {_GRID_R}) AS INT) = sx.cx
    WHERE (c.lat - sx.lat) * (c.lat - sx.lat)
          + (c.lon - sx.lon) * (c.lon - sx.lon) < {_GRID_R} * {_GRID_R}
    ORDER BY c.c_custkey, sx.s_suppkey
    """,
)
def customer_supplier_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial proximity join via grid bucketing: customers paired
    with every supplier within 4° (planar L2 on synthetic md5-derived
    coordinates — per-side salts, no trig so membership is exact IEEE
    arithmetic in both engines). The canonical distributed spatial
    join: quantize to radius-sized cells, explode ONE side to its 3×3
    cell neighborhood, equi-join on the cell key, then refine with
    the exact distance predicate — turning an unjoinable
    theta-distance condition into a shuffle-equi-join with bounded
    (9×) fan-out on the smaller side. At 100 TB both sides shuffle
    once on the cell key (or the exploded side broadcasts, as here
    with the dim-sized supplier table); skewed cells (urban density)
    would split via AQE skew handling or a finer grid. Longitude
    wraparound at ±180° is ignored on this synthetic plane."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (_md5_uint16(F.col("c_custkey"), salt="clat:").cast("double")
         / 65536.0 * 180.0 - 90.0).alias("lat"),
        (_md5_uint16(F.col("c_custkey"), salt="clon:").cast("double")
         / 65536.0 * 360.0 - 180.0).alias("lon"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (_md5_uint16(F.col("s_suppkey"), salt="slat:").cast("double")
         / 65536.0 * 180.0 - 90.0).alias("lat"),
        (_md5_uint16(F.col("s_suppkey"), salt="slon:").cast("double")
         / 65536.0 * 360.0 - 180.0).alias("lon"),
    )
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    sx = (
        supp.withColumn("dy", off)
        .withColumn("dx", off)
        .select(
            F.col("s_suppkey"),
            F.col("lat").alias("slat"),
            F.col("lon").alias("slon"),
            (F.floor(F.col("lat") / _GRID_R).cast("int") + F.col("dy")).alias("cy"),
            (F.floor(F.col("lon") / _GRID_R).cast("int") + F.col("dx")).alias("cx"),
        )
    )
    d2 = (F.col("lat") - F.col("slat")) * (F.col("lat") - F.col("slat")) + (
        F.col("lon") - F.col("slon")
    ) * (F.col("lon") - F.col("slon"))
    return (
        cust.join(
            F.broadcast(sx),
            (F.floor(F.col("lat") / _GRID_R).cast("int") == F.col("cy"))
            & (F.floor(F.col("lon") / _GRID_R).cast("int") == F.col("cx")),
        )
        .where(d2 < _GRID_R * _GRID_R)
        .select(
            "c_custkey",
            "s_suppkey",
            (F.round(F.sqrt(d2) * 1000000.0) / 1000000.0).alias("dist_deg"),
        )
        .orderBy("c_custkey", "s_suppkey")
    )
