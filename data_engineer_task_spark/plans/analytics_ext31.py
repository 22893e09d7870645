"""Thirty-second batch: governance / pipeline-hygiene operators —
t-closeness (the EMD completion of the k-anonymity / l-diversity
privacy trio), a deterministic per-group reservoir sample, a temporal
train/test split with an embargo gap (plus user-contamination count),
a join-key skew histogram, and BPE tokenizer APPLICATION (encode
with the learned merges).

Reference scope note: the reference (``coded4alex/data_engineer_task``)
has none of these (SURVEY §2.5); they extend the engine for the 100 TB
curation mandate. Same contract as plans/analytics.py (see its
authoring rules): every MEMBERSHIP / bucket / flag decision rides
exact integers (cents BIGINTs, integer cross-multiplied thresholds,
salted-md5 order statistics); floats appear only in display-rounded
outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import _BPE_CTES, _ROUNDS, _hex_int_sql, _t, _t_wide, q

# --- t-closeness -------------------------------------------------------------
#
# For an ORDERED sensitive attribute the Earth-Mover's Distance between
# a quasi-group's distribution and the global one has the closed form
#   EMD = (1/(b-1)) · Σ_j |P_g(≤j) − P(≤j)|
# over the b fixed bins. Cross-multiplying the prefix shares keeps the
# entire decision integral: |cum_g·N − cum_t·n_g| is an exact BIGINT
# (headroom: the binding term is emd_den = n_g·N·(b−1) ≤ 10·N², so
# BIGINT overflows only past N ≈ 9.6e8 customers), and
# the t=0.15 violation test becomes 2·Σ|…| > 3·n_g·N·(b−1)/10 · …,
# spelled below with integer factors only.

_TC_BINS = 11  # acctbal cents shifted +100000, div 100000 → bins 0..10
_TC_SHIFT = 100_000
_TC_WIDTH = 100_000


@q(
    "customer_t_closeness",
    f"""
    WITH c AS (
      SELECT c_mktsegment AS seg,
             CAST((CAST(round(c_acctbal * 100) AS BIGINT) + {_TC_SHIFT})
                  // {_TC_WIDTH} AS BIGINT) AS bin
      FROM customer
    ),
    segs AS (SELECT DISTINCT seg FROM c),
    bins AS (SELECT unnest(range(0, {_TC_BINS})) AS bin),
    grid AS (SELECT seg, bin FROM segs CROSS JOIN bins),
    gc AS (
      SELECT seg, bin, CAST(count(*) AS BIGINT) AS cnt
      FROM c GROUP BY seg, bin
    ),
    tc AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS tcnt FROM c GROUP BY bin
    ),
    f AS (
      SELECT g.seg, g.bin,
             coalesce(gc.cnt, 0) AS cnt,
             coalesce(tc.tcnt, 0) AS tcnt
      FROM grid g
      LEFT JOIN gc ON gc.seg = g.seg AND gc.bin = g.bin
      LEFT JOIN tc ON tc.bin = g.bin
    ),
    p AS (
      SELECT seg, bin,
             sum(cnt)  OVER (PARTITION BY seg ORDER BY bin) AS cum_g,
             sum(tcnt) OVER (PARTITION BY seg ORDER BY bin) AS cum_t,
             sum(cnt)  OVER (PARTITION BY seg) AS n_g,
             sum(tcnt) OVER (PARTITION BY seg) AS n_t
      FROM f
    ),
    e AS (
      SELECT seg,
             CAST(max(n_g) AS BIGINT) AS n_customers,
             CAST(sum(abs(cum_g * max_nt.n - cum_t * n_g)) AS BIGINT)
               AS emd_num,
             CAST(max(n_g) AS BIGINT) * max_nt.n * {_TC_BINS - 1}
               AS emd_den
      FROM p, (SELECT CAST(count(*) AS BIGINT) AS n FROM c) AS max_nt
      GROUP BY seg, max_nt.n
    )
    SELECT seg AS mktsegment, n_customers,
           round(CAST(emd_num AS DOUBLE) / emd_den * 1000000.0)
             / 1000000.0 AS emd,
           CAST(CASE WHEN 20 * emd_num > 3 * emd_den THEN 1 ELSE 0 END
                AS BIGINT) AS t_violation
    FROM e ORDER BY mktsegment
    """,
)
def customer_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (the attribute-disclosure metric that
    completes the k-anonymity / l-diversity privacy trio): per market
    segment, the Earth-Mover's Distance between the segment's account-
    balance distribution and the global one over a FIXED ordered
    $1000-cents bin grid, flagged against t = 0.15.

    EMD over ordered bins has the prefix-share closed form; cross-
    multiplying shares makes every term |cum_g·N − cum_t·n_g| an
    exact BIGINT (headroom note: the binding term is the denominator
    n_g·N·(b−1) ≤ 10·N², overflowing BIGINT past N ≈ 9.6e8 customers —
    at that scale promote to DECIMAL(38,0) like the AUC entry), so EMD and the
    violation flag (20·Σ|…| > 3·n_g·N·(b−1), t=0.15 with b−1=10
    folded in) are integer-decided; the only float is the single
    display division. Scale shape: one fact aggregate to the
    (segments × 11)-cell grid; the prefix windows are PARTITIONED by
    segment over 11 fixed bins each — the global prefix rides the
    same grid (joined per segment), so no unpartitioned window
    exists. Negative balances shift +$1000 before the integer div so
    truncating (Spark div) and flooring (DuckDB //) division agree on
    the non-negative domain."""
    cust = _t(spark, sf_dir, "customer")
    c = cust.select(
        F.col("c_mktsegment").alias("seg"),
        (
            (
                F.round(F.col("c_acctbal") * 100).cast("long")
                + F.lit(_TC_SHIFT)
            )
            / _TC_WIDTH
        )
        .cast("long")
        .alias("bin"),
    )
    segs = c.select("seg").distinct()
    bins = spark.range(_TC_BINS).select(F.col("id").alias("bin"))
    grid = segs.crossJoin(F.broadcast(bins))
    gc = c.groupBy("seg", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tc = c.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("tcnt"))
    f = (
        grid.join(gc, ["seg", "bin"], "left")
        .join(F.broadcast(tc), "bin", "left")
        .select(
            "seg",
            "bin",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.coalesce("tcnt", F.lit(0)).alias("tcnt"),
        )
    )
    wseg = W.partitionBy("seg").orderBy("bin")
    wall = W.partitionBy("seg")
    p = f.select(
        "seg",
        F.sum("cnt").over(wseg).alias("cum_g"),
        F.sum("tcnt").over(wseg).alias("cum_t"),
        F.sum("cnt").over(wall).alias("n_g"),
    )
    n_total = c.agg(F.count(F.lit(1)).cast("long").alias("n"))
    e = (
        p.crossJoin(F.broadcast(n_total))
        .groupBy("seg")
        .agg(
            F.max("n_g").cast("long").alias("n_customers"),
            F.sum(
                F.abs(F.col("cum_g") * F.col("n") - F.col("cum_t") * F.col("n_g"))
            )
            .cast("long")
            .alias("emd_num"),
            (F.max("n_g") * F.max("n") * (_TC_BINS - 1))
            .cast("long")
            .alias("emd_den"),
        )
    )
    return e.select(
        F.col("seg").alias("mktsegment"),
        "n_customers",
        (
            F.round(
                F.col("emd_num").cast("double") / F.col("emd_den") * 1000000.0
            )
            / 1000000.0
        ).alias("emd"),
        F.when(20 * F.col("emd_num") > 3 * F.col("emd_den"), 1)
        .otherwise(0)
        .cast("long")
        .alias("t_violation"),
    ).orderBy("mktsegment")


# --- Deterministic reservoir sample ------------------------------------------

_RSV_K = 5


@q(
    "events_reservoir_sample",
    f"""
    WITH h AS (
      SELECT event_type, event_id,
             CAST({_hex_int_sql("md5('rsv:' || CAST(event_id AS VARCHAR))", 12)} AS BIGINT) AS h
      FROM events
    ),
    r AS (
      SELECT event_type, event_id, h,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY h ASC, event_id ASC) AS rank
      FROM h
    )
    SELECT event_type, CAST(rank AS BIGINT) AS rank,
           CAST(event_id AS BIGINT) AS event_id
    FROM r WHERE rank <= {_RSV_K}
    ORDER BY event_type, rank
    """,
)
def events_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group 'reservoir' sample: the k events
    whose salted-md5 hashes are the k SMALLEST per event type — the
    order-statistic spelling of uniform-without-replacement sampling
    that stays reproducible across runs, task retries, partitionings,
    and engines (rand() reservoirs lose all four; salt 'rsv:' keeps it
    independent of the split/strat/ws samplers per the house salting
    rule). Rides ``sketch.k_smallest``'s salted two-level rank, so no
    event type's full history ever sorts in one task; the event_id
    tie-break pins the (astronomically unlikely) 48-bit collision.
    The retained set is a valid KMV sketch of the same salt — one scan
    can serve both sampling and cardinality estimation. Relationship
    to `doc_source_capped_sample` (ext): same deterministic-lottery
    idea, but this one survives a single corpus-sized group (two-level
    rank vs one partitioned window) and RETURNS the sampled rows
    rather than a checksum."""
    from ..operators.sketch import k_smallest, kmv_hash

    ev = _t(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        "event_id",
        kmv_hash(F.col("event_id"), "rsv:").alias("h"),
    )
    small = k_smallest(
        hashed, _RSV_K, ("event_type",), tiebreak=("event_id",)
    )
    wr = W.partitionBy("event_type").orderBy(F.asc("h"), F.asc("event_id"))
    return (
        small.withColumn("rank", F.row_number().over(wr).cast("long"))
        .select("event_type", "rank", F.col("event_id").cast("long"))
        .orderBy("event_type", "rank")
    )


# --- Temporal split with embargo ----------------------------------------------

_EMB_TRAIN_END = 1705708800  # 2024-01-20 00:00:00 UTC
_EMB_TEST_START = 1705881600  # 2024-01-22 00:00:00 UTC (2-day embargo)


@q(
    "events_embargo_split",
    f"""
    WITH e AS (
      SELECT user_id,
             CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec
      FROM events
    ),
    lab AS (
      SELECT user_id,
             CASE WHEN sec < {_EMB_TRAIN_END} THEN 'train'
                  WHEN sec >= {_EMB_TEST_START} THEN 'test'
                  ELSE 'embargo' END AS split
      FROM e
    ),
    agg AS (
      SELECT split,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM lab GROUP BY split
    ),
    leak AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT user_id FROM lab WHERE split = 'train'
        INTERSECT
        SELECT user_id FROM lab WHERE split = 'test'
      )
    )
    SELECT a.split, a.n_events, a.n_users, leak.n AS n_overlap_users
    FROM agg a CROSS JOIN leak
    ORDER BY a.split
    """,
)
def events_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split with an EMBARGO gap (the
    finance-standard purge between fit and evaluation windows that
    stops boundary-straddling sessions leaking labels): events before
    2024-01-20 train, events from 2024-01-22 test, the 2 days between
    are embargoed. Membership is an integer epoch-second compare on
    BOTH engines (the events ts encoding varies across testdata
    regenerations — Spark reads through sources/catalog.load_table,
    the oracle through epoch_ns, both landing on the same integer
    seconds). n_overlap_users counts users active in BOTH train and
    test — the residual identity-level contamination an embargo does
    NOT remove (that's `split_leakage_audit`'s content-level job).
    Scale shape: map-only labeling, one grouped aggregate, and a
    user-key semi-intersection; nothing global."""
    ev = _t(spark, sf_dir, "events")
    lab = ev.select(
        "user_id",
        F.when(
            F.unix_timestamp("ts") < F.lit(_EMB_TRAIN_END), "train"
        )
        .when(F.unix_timestamp("ts") >= F.lit(_EMB_TEST_START), "test")
        .otherwise("embargo")
        .alias("split"),
    )
    agg = lab.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    tr = lab.where(F.col("split") == "train").select("user_id").distinct()
    te = lab.where(F.col("split") == "test").select("user_id").distinct()
    leak = (
        tr.join(te, "user_id", "semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap_users"))
    )
    return (
        agg.crossJoin(F.broadcast(leak))
        .select("split", "n_events", "n_users", "n_overlap_users")
        .orderBy("split")
    )


# --- Join-key skew histogram --------------------------------------------------


@q(
    "orders_custkey_skew_profile",
    """
    WITH pc AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY o_custkey
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(max(cnt) AS BIGINT) AS max_cnt
      FROM pc
    )
    SELECT pc.cnt AS orders_per_customer,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(count(*) AS BIGINT) * 1000000.0 / max(t.n_keys))
             / 1000000.0 AS key_share,
           round(CAST(max(t.max_cnt) AS DOUBLE) * max(t.n_keys)
                 * 1000000.0 / max(t.n_rows)) / 1000000.0
             AS skew_factor
    FROM pc CROSS JOIN t
    GROUP BY pc.cnt ORDER BY pc.cnt
    """,
)
def orders_custkey_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for the orders→customer key: the
    count-of-counts histogram (how many customers place exactly k
    orders) plus the skew factor max/mean — the diagnostic that
    decides whether a key needs salting or an AQE skew-join hint
    BEFORE the shuffle burns. The histogram domain is bounded by the
    heaviest key's count (≪ corpus); all memberships are exact
    integers, shares/skew are single display divisions of exact
    integers. Scale shape: one fact aggregate with map-side combine,
    one ≤max_cnt-row regroup, one broadcast scalar frame."""
    orders = _t(spark, sf_dir, "orders")
    pc = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    t = pc.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    return (
        pc.crossJoin(F.broadcast(t))
        .groupBy(F.col("cnt").alias("orders_per_customer"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (
                F.round(
                    F.count(F.lit(1)).cast("long")
                    * 1000000.0
                    / F.max("n_keys")
                )
                / 1000000.0
            ).alias("key_share"),
            (
                F.round(
                    F.max("max_cnt").cast("double")
                    * F.max("n_keys")
                    * 1000000.0
                    / F.max("n_rows")
                )
                / 1000000.0
            ).alias("skew_factor"),
        )
        .orderBy("orders_per_customer")
    )


# --- BPE application (encode with the learned merges) -------------------------


@q(
    "doc_bpe_encode_lengths",
    f"""
    WITH {_BPE_CTES}
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(t.toks)) AS BIGINT) AS total_tokens,
           round(CAST(sum(len(t.toks)) AS BIGINT) * 10000.0 / count(*))
             / 10000.0 AS avg_tokens
    FROM tok{_ROUNDS} t JOIN documents d ON d.doc_id = t.doc_id
    GROUP BY d.lang ORDER BY d.lang
    """,
)
def doc_bpe_encode_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode the corpus with the merges
    learned by `doc_bpe_phrase_merges` (same 4 training rounds — the
    train→apply pair every tokenizer pipeline ships) and report the
    per-language sequence-length budget the packing/chunking stages
    plan around. Token counts are exact integers; avg is one display
    division of exact integers. 100 TB shape: training cost is the
    BPE entry's (O(1) driver state per round); encoding itself is the
    map-only in-row left fold — applying a FROZEN merge table to new
    data is embarrassingly parallel."""
    from ..operators.text import phrase_merge_rounds

    # _t_wide: parallelize the per-round fold (see doc_bpe_phrase_merges);
    # final_total=False — this entry computes its own per-lang totals.
    docs = _t_wide(spark, sf_dir, "documents")
    _stats, toks = phrase_merge_rounds(
        docs, "doc_id", "text", rounds=_ROUNDS, final_total=False
    )
    return (
        toks.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size("toks")).cast("long").alias("total_tokens"),
            (
                F.round(
                    F.sum(F.size("toks")).cast("long")
                    * 10000.0
                    / F.count(F.lit(1))
                )
                / 10000.0
            ).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


# --- Quality-score calibration curve ------------------------------------------


@q(
    "doc_quality_calibration",
    """
    WITH s AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(floor(1000.0 * len(list_distinct(string_split(text, ' ')))
                        / len(string_split(text, ' '))) AS BIGINT) AS score
      FROM documents
    ),
    b AS (
      SELECT least(score // 100, 9) AS bin, y, score FROM s
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(CAST(sum(y) AS BIGINT) * 1000000.0 / count(*))
             / 1000000.0 AS pos_rate,
           round(CAST(sum(score) AS BIGINT) * 10000.0 / count(*))
             / 10000.0 AS avg_score,
           round(abs(CAST(sum(y) AS BIGINT) * 1000.0 / count(*)
                     - CAST(sum(score) AS BIGINT) * 1.0 / count(*))
                 * 1000.0) / 1000.0 AS calib_gap_permille
    FROM b GROUP BY bin ORDER BY bin
    """,
)
def doc_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability curve for a quality score: the
    lexical-diversity permille score (the curriculum entry's integer
    score, read as 'probability of being the en target slice' /1000)
    bucketed into 10 FIXED permille bins, each reporting observed
    positive rate vs mean claimed score — the reliability diagram
    whose per-bin |gap| terms sum to ECE, completing the eval family
    next to the threshold-free `doc_quality_score_auc`. Bin
    membership is integer `div` on the exact permille score (the 1000
    edge clamps into bin 9 via least); counts and score sums are
    exact BIGINTs; rates/gaps are single display divisions of exact
    integers, spelled identically on both engines. 100 TB shape: one
    map-only scoring scan + a 10-row aggregate with map-side
    combine."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\Q \E")
    s = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.floor(1000.0 * F.size(F.array_distinct(toks)) / F.size(toks))
        .cast("long")
        .alias("score"),
    )
    b = s.select(
        F.least(F.expr("score div 100"), F.lit(9).cast("long")).alias("bin"),
        "y",
        "score",
    )
    n = F.count(F.lit(1))
    sy = F.sum("y").cast("long")
    ss = F.sum("score").cast("long")
    return (
        b.groupBy("bin")
        .agg(
            n.cast("long").alias("n_docs"),
            sy.alias("n_pos"),
            (F.round(sy * 1000000.0 / n) / 1000000.0).alias("pos_rate"),
            (F.round(ss * 10000.0 / n) / 10000.0).alias("avg_score"),
            (
                F.round(
                    F.abs(sy * 1000.0 / n - ss * 1.0 / n)
                    * 1000.0
                )
                / 1000.0
            ).alias("calib_gap_permille"),
        )
        .orderBy("bin")
    )
