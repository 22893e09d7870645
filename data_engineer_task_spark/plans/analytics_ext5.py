"""Sixth-batch declared queries: streaming session windows, incremental
aggregate maintenance, k-anonymity, and cluster-quality scoring.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.
Surface added here:

 - native ``session_window`` as a REAL streaming query in append mode
   (exactly-once emission when the watermark proves a session closed —
   the streaming twin of the batch `user_session_spans` entry)
 - incremental aggregate maintenance: partial aggregates of disjoint
   slices algebraically merged, proven equal to a full recompute (the
   pattern that lets a 100 TB rollup absorb a new partition without
   rescanning history)
 - k-anonymity profiling (privacy-risk grouping on quasi-identifiers —
   the governance sibling of the PII scrub operators)
 - simplified silhouette per label (cluster-quality metric over the
   embeddings table — centroid-based, so it stays linear in points
   instead of the textbook O(n²) pairwise form)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import _hex_int_sql, _t, _t_wide, q


@q(
    "stream_user_sessions",
    """
    WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
    b AS (SELECT max(us) - 2460000000 AS cutoff FROM e),
    o AS (
      SELECT user_id, us,
             CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                       > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM e
    ),
    s AS (
      SELECT user_id, us,
             sum(brk) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM o
    ),
    g AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             min(us) AS start_us, max(us) AS end_us
      FROM s GROUP BY user_id, sess
    )
    SELECT g.user_id, g.n_events, g.start_us, g.end_us
    FROM g, b WHERE g.end_us <= b.cutoff
    ORDER BY user_id, start_us
    """,
)
def stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session spans from a REAL Structured Streaming run of
    the native ``session_window`` aggregation (append mode: one row per
    CLOSED session, emitted only when the watermark proves no further
    event can extend it). The oracle is the batch gaps-and-islands
    sessionizer with the same closed gap boundary, trimmed to the same
    watermark finality cutoff (10 min delay + 30 min gap + 1 min edge
    margin = the 2 460 000 000 µs in the SQL) — see
    ``run_stream_sessions_once`` for the emission mechanics."""
    from ..streaming.aggregate import run_stream_sessions_once

    return run_stream_sessions_once(
        spark, f"{sf_dir}/events.parquet", "stream_sessions_out"
    )


@q(
    "orders_incremental_agg_merge",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           round((sum(o_totalprice)) * 100.0) / 100.0 AS total_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           round((sum(o_totalprice) / count(*)) * 10000.0) / 10000.0 AS avg_price
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def orders_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the orders fact is split into
    a 'history' slice and a 'new-partition' slice, each reduced to
    per-priority PARTIAL aggregates (count/sum/min/max — all algebraic:
    their merge is itself count-sum/sum/min/max, and avg derives from
    the merged sum and count), then the partials are merged WITHOUT
    touching the underlying rows again. The oracle recomputes from the
    full table in one pass — hash equality proves merge ≡ recompute,
    which is the contract that lets a materialized 100 TB rollup absorb
    each new ingest slice at the cost of aggregating ONLY that slice.
    (The same decomposition is what Spark's own partial aggregation
    does inside one query; here it is made explicit ACROSS queries,
    i.e. across time. Non-algebraic aggregates need sketch
    intermediates instead — the HLL/bitmap/CMS entries.)"""
    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("o_totalprice").alias("ps"),
            F.min("o_totalprice").alias("pmin"),
            F.max("o_totalprice").alias("pmax"),
        )

    history = partial(orders.where(F.col("o_orderdate") < cut))
    delta = partial(orders.where(F.col("o_orderdate") >= cut))
    return (
        history.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("pn").cast("long").alias("n_orders"),
            (F.round((F.sum("ps")) * 100.0) / 100.0).alias("total_price"),
            F.min("pmin").alias("min_price"),
            F.max("pmax").alias("max_price"),
            (F.round((F.sum("ps") / F.sum("pn")) * 10000.0) / 10000.0).alias("avg_price"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "customer_k_anonymity",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
           CAST(count(*) AS BIGINT) AS group_size,
           CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS at_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal / 2000)
    ORDER BY c_nationkey, c_mktsegment, bal_bucket
    """,
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier tuple
    (nation, market segment, coarse balance bucket): any equivalence
    class smaller than k re-identifies its members under linkage
    attacks, so releases must suppress or generalize those rows. One
    hash aggregate over the dimension — the privacy sibling of the PII
    scrub operators (`scrub_pii` redacts direct identifiers; this
    measures the indirect ones). At 100 TB the group count is bounded
    by the quasi-identifier domain, not the fact, so the audit is one
    map-combined shuffle like any low-cardinality rollup."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_bucket",
            "group_size",
            F.when(F.col("group_size") < 5, 1).otherwise(0).alias("at_risk"),
        )
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")
    )


@q(
    "embedding_silhouette_by_label",
    """
    WITH dims AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    cent AS (
      SELECT label AS clabel, dim, avg(x) AS c FROM dims GROUP BY label, dim
    ),
    dist AS (
      SELECT d.vec_id, d.label, c.clabel,
             sqrt(sum((d.x - c.c) * (d.x - c.c))) AS dist
      FROM dims d JOIN cent c ON d.dim = c.dim
      GROUP BY d.vec_id, d.label, c.clabel
    ),
    ab AS (
      SELECT vec_id, label,
             min(CASE WHEN label = clabel THEN dist END) AS a,
             min(CASE WHEN label <> clabel THEN dist END) AS b
      FROM dist GROUP BY vec_id, label
    ),
    s AS (
      SELECT label,
             CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
                  ELSE 0 END AS s
      FROM ab
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(s) * 10000) / 10000 AS silhouette
    FROM s GROUP BY label ORDER BY label
    """,
)
def embedding_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: a = distance
    to the own-label centroid, b = distance to the nearest other
    centroid, s = (b−a)/max(a,b) — the standard O(n·k·d) surrogate for
    the O(n²·d) pairwise silhouette, and the go-to label-quality /
    cluster-separation score for an embedded corpus. The plan shape is
    scale-honest: centroids are a (k×d)-bounded aggregate; each point
    meets only the k centroids (dimension-keyed join + per-(point,
    centroid) reduce), never another point. Positive silhouette ⇒ the
    label is closer to its own centroid than to any other — a gate for
    'are these labels worth training on'."""
    emb = _t_wide(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias(
            "dim", "x"
        ),
    )
    cent = (
        dims.groupBy(F.col("label").alias("clabel"), "dim")
        .agg(F.avg("x").alias("c"))
    )
    dist = (
        dims.join(cent, "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sqrt(F.sum((F.col("x") - F.col("c")) ** 2)).alias("dist"))
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("label") == F.col("clabel"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("label") != F.col("clabel"), F.col("dist"))).alias("b"),
    )
    s = ab.select(
        "label",
        F.when(
            F.greatest("a", "b") > 0,
            (F.col("b") - F.col("a")) / F.greatest("a", "b"),
        )
        .otherwise(F.lit(0.0))
        .alias("s"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            (F.round(F.avg("s") * 10000) / 10000).alias("silhouette"),
        )
        .orderBy("label")
    )


@q(
    "user_value_twap",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, value
      FROM events WHERE value IS NOT NULL
    ),
    d AS (
      SELECT user_id, value,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
               AS dt
      FROM e
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_points,
           CASE WHEN sum(dt) > 0
                THEN round(sum(value * dt) * 10000.0 / sum(dt)) / 10000.0
           END AS twap_value,
           round(avg(value) * 10000.0) / 10000.0 AS mean_value
    FROM d GROUP BY user_id ORDER BY user_id
    """,
)
def user_value_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) of each user's value series —
    the correct mean for IRREGULARLY sampled measurements (a value
    holds until the next observation, so it weights by its holding
    interval; the plain mean over-weights bursts). One window pass for
    the lead-interval + one aggregate — same single-shuffle shape as
    any per-key rollup. The (us, event_id) sort key makes the
    value→interval pairing deterministic under same-microsecond ties;
    a user's last observation carries no interval (NULL dt drops out of
    both sums), and single-point users yield NULL TWAP on both engines
    via the sum(dt)>0 guard."""
    from pyspark.sql import Window as W

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("user_id", "event_id", F.unix_micros("ts").alias("us"), "value")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    d = ev.select(
        "user_id", "value", (F.lead("us").over(w) - F.col("us")).alias("dt")
    )
    twap = F.when(
        F.sum("dt") > 0,
        F.round(F.sum(F.col("value") * F.col("dt")) * 10000.0 / F.sum("dt"))
        / 10000.0,
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            twap.alias("twap_value"),
            (F.round(F.avg("value") * 10000.0) / 10000.0).alias("mean_value"),
        )
        .orderBy("user_id")
    )


_CHUNK_W, _CHUNK_S = 50, 40  # width, stride (10-token overlap)


@q(
    "doc_overlap_chunks",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    n AS (
      SELECT doc_id, toks,
             (greatest(len(toks) - {_CHUNK_W}, 0) + {_CHUNK_S} - 1)
               // {_CHUNK_S} + 1 AS nch
      FROM t
    ),
    c AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, nch - 1)) AS chunk_id
      FROM n
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(toks[chunk_id * {_CHUNK_S} + 1
                         : chunk_id * {_CHUNK_S} + {_CHUNK_W}]) AS BIGINT)
             AS chunk_len,
           toks[chunk_id * {_CHUNK_S} + 1] AS head_token
    FROM c ORDER BY doc_id, chunk_id
    """,
)
def doc_overlap_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width token chunking (width 50, stride 40 —
    the RAG/pretraining windowing that keeps 10 tokens of context
    across boundaries). Entirely IN-ROW: the chunk count derives from
    the token count, `sequence → explode` fans out one row per chunk,
    and `slice` cuts the window from the row-local token array — no
    shuffle at all until the output sort, and none in production where
    chunks stream straight to a write. Contrast: `doc_fixed_chunks_udtf`
    does fixed windows through the Python UDTF surface; this is the
    codegen path an actual 100 TB chunker takes."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    nch = (
        F.floor(
            (F.greatest(F.size(toks) - _CHUNK_W, F.lit(0)) + _CHUNK_S - 1)
            / _CHUNK_S
        ).cast("int")
        + 1
    )
    c = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), nch - 1)).alias("chunk_id"),
    )
    chunk = F.slice("toks", F.col("chunk_id") * _CHUNK_S + 1, _CHUNK_W)
    return (
        c.select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("chunk_len"),
            F.element_at(chunk, 1).alias("head_token"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@q(
    "priority_customer_multiset",
    """
    WITH a AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
    b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'),
    i AS (
      SELECT 'intersect_all' AS set_op, o_custkey
      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    ),
    x AS (
      SELECT 'except_all' AS set_op, o_custkey
      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    )
    SELECT set_op, o_custkey, CAST(count(*) AS BIGINT) AS n_rows
    FROM (SELECT * FROM i UNION ALL SELECT * FROM x)
    GROUP BY set_op, o_custkey ORDER BY set_op, o_custkey
    """,
)
def priority_customer_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations — INTERSECT ALL keeps
    min(count_a, count_b) copies per key, EXCEPT ALL keeps
    count_a − count_b — via Spark's native ``intersectAll`` /
    ``exceptAll``, completing the set-op family next to the DISTINCT
    variants in `customer_order_cohorts`. Both plan as a single
    aggregate-then-replicate over the union (no join), so the cost is
    one shuffle on the compared row, exactly like the SQL spec's
    counting semantics. Per-key output counts make duplicate
    multiplicity visible to the oracle compare."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.where(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    tagged = a.intersectAll(b).select(
        F.lit("intersect_all").alias("set_op"), "o_custkey"
    ).unionByName(
        a.exceptAll(b).select(F.lit("except_all").alias("set_op"), "o_custkey")
    )
    return (
        tagged.groupBy("set_op", "o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .orderBy("set_op", "o_custkey")
    )


@q(
    "user_value_lag_features",
    """
    WITH d AS (
      SELECT user_id, CAST(ts AS DATE) AS day, round((avg(value)) * 10000.0) / 10000.0 AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT user_id, date_diff('day', DATE '1970-01-01', day) AS day_no, v,
           lag(v, 1) OVER w AS v_lag1,
           lag(v, 2) OVER w AS v_lag2,
           round(avg(v) OVER (PARTITION BY user_id ORDER BY day
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                 * 10000.0) / 10000.0 AS v_ma3
    FROM d WINDOW w AS (PARTITION BY user_id ORDER BY day)
    ORDER BY user_id, day_no
    """,
)
def user_value_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-learning feature assembly over a per-user daily
    series: lag-1, lag-2, and a trailing 3-row moving average in ONE
    window specification — the point is that every derived feature
    shares the same (partition, order), so Catalyst plans a single
    sort+Window operator and the whole feature matrix costs one
    shuffle, however many lags ride along. Day-grain pre-aggregation
    makes the per-user ordering unique (no timestamp tie ambiguity)
    and v is rounded BEFORE the derived features so lag/avg consume
    engine-identical inputs. Output timestamps as epoch-day ints (no
    raw timestamps, per the authoring rules)."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg((F.round((F.avg("value")) * 10000.0) / 10000.0).alias("v"))
    w = W.partitionBy("user_id").orderBy("day")
    ma = W.partitionBy("user_id").orderBy("day").rowsBetween(-2, 0)
    return (
        d.select(
            "user_id",
            F.datediff("day", F.lit("1970-01-01").cast("date")).alias("day_no"),
            "v",
            F.lag("v", 1).over(w).alias("v_lag1"),
            F.lag("v", 2).over(w).alias("v_lag2"),
            (F.round(F.avg("v").over(ma) * 10000.0) / 10000.0).alias("v_ma3"),
        )
        .orderBy("user_id", "day_no")
    )


@q(
    "lang_target_encoding_loo",
    """
    WITH s AS (
      SELECT doc_id, lang, n_chars,
             sum(n_chars) OVER (PARTITION BY lang) AS lang_sum,
             count(*) OVER (PARTITION BY lang) AS lang_n
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN lang_n > 1
                THEN round((lang_sum - n_chars) * 10000.0 / (lang_n - 1))
                     / 10000.0
           END AS lang_loo_mean_chars
    FROM s ORDER BY doc_id
    """,
)
def lang_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the `lang` categorical against
    the n_chars target: each row's encoding is the category mean
    EXCLUDING the row itself — (Σ−y)/(n−1) — the standard guard
    against target leakage (a plain category mean lets each row see
    its own label; LOO is what production feature stores ship).
    Singleton categories yield NULL on both engines rather than a 0/0.

    Scale shape (r6 low-cardinality-window audit): the former
    per-category WINDOW funneled each language's ENTIRE corpus slice
    through one task — `lang` has a handful of values, so
    WindowExec's per-partition pass is the single-task wall at 100 TB.
    The category stats are two scalars per language: a map-side-
    combinable groupBy collapses the corpus to ≤|langs| rows, which
    broadcast-join back map-only. Values are bit-identical (exact
    integer sum/count either way); the oracle keeps the window
    spelling."""
    docs = _t(spark, sf_dir, "documents")
    stats = docs.groupBy("lang").agg(
        F.sum("n_chars").alias("lang_sum"),
        F.count(F.lit(1)).alias("lang_n"),
    ).withColumnRenamed("lang", "_lang_s")
    # null-safe join: a NULL category is still a category (the window
    # form grouped NULLs together; an inner equi-join would drop them)
    s = (
        docs.select("doc_id", "lang", "n_chars")
        .join(
            F.broadcast(stats),
            F.col("lang").eqNullSafe(F.col("_lang_s")),
        )
        .drop("_lang_s")
    )
    enc = F.when(
        F.col("lang_n") > 1,
        F.round(
            (F.col("lang_sum") - F.col("n_chars"))
            * 10000.0
            / (F.col("lang_n") - 1)
        )
        / 10000.0,
    )
    return s.select(
        "doc_id", "lang", enc.alias("lang_loo_mean_chars")
    ).orderBy("doc_id")


_ROW_STR = (
    "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
    " || '|' || o_orderstatus || '|' || o_orderpriority"
)


@q(
    "orders_partition_checksums",
    f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum({_hex_int_sql(f"md5('ck:' || {_ROW_STR})", 8)}) AS BIGINT)
             AS checksum
    FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')
    ORDER BY month
    """,
)
def orders_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition table fingerprints for cross-system reconciliation:
    each row hashes its canonical key/attribute string to a 32-bit
    md5-prefix integer, and a partition's checksum is the SUM of its
    row hashes — order-independent, mergeable (a partition's checksum
    is the sum of its files' checksums), and engine-portable (md5 is
    bit-identical everywhere; replica drift shows up as a differing
    (month, checksum) row without shipping any data). This is how two
    100 TB replicas compare: exchange |partitions| rows, re-sync only
    divergent months. Floats stay OUT of the hashed string — their
    decimal rendering is not engine-portable; the salt keeps this
    fingerprint independent of the sampling operators' md5 buckets.
    Map-only hash + one low-cardinality aggregate."""
    orders = _t(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ck:"), row_str)), 1, 8), 16, 10
    ).cast("long")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(h).cast("long").alias("checksum"),
        )
        .orderBy("month")
    )


@q(
    "part_abc_classification",
    """
    WITH rev AS (
      SELECT l_partkey,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100.0)
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    c AS (
      SELECT cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum_cents,
             sum(cents) OVER () AS total_cents
      FROM rev
    ),
    k AS (
      SELECT CASE WHEN 5 * cum_cents <= 4 * total_cents THEN 'A'
                  WHEN 20 * cum_cents <= 19 * total_cents THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents, total_cents
      FROM c
    )
    SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS DOUBLE) / 100.0 AS class_revenue,
           round(CAST(sum(cents) AS DOUBLE) * 10000.0 / max(total_cents))
             / 10000.0 AS revenue_share
    FROM k GROUP BY abc_class ORDER BY abc_class
    """,
)
def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: rank by
    revenue, A = parts inside the first 80% of cumulative revenue,
    B = next 15%, C = the tail — the standard inventory-prioritization
    cut. Per-part revenue lives as exact-integer CENTS end to end
    (CLAUDE.md's membership rule): the cumulative sums are BIGINTs —
    order-independent, so the two-level prefix can't re-associate a
    float — and the 80/95% thresholds are integer cross-
    multiplications (5·cum ≤ 4·total, 20·cum ≤ 19·total; headroom:
    20·total_cents overflows BIGINT only past ~4.6e17 cents ≈ $4.6
    quadrillion). The prefix sums come from ``ordered_prefix``
    (range-bucket two-level: approx-cut placement, exact-integer
    offsets — the r4 allowlist's documented repartitionByRange swap,
    now landed), so no task ever sorts the whole part frame; the fact
    contributes one grouped aggregate."""
    from ..operators.ranking import ordered_prefix

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            * 100.0
        )
        .cast("long")
        .alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("total_cents"))
    pre = ordered_prefix(
        rev.withColumn("_negc", -F.col("cents")),
        "_negc",
        ["l_partkey"],
        rank_col=None,
        sums={"_before": "cents"},
        buckets=32,
    )
    cum = F.col("_before") + F.col("cents")
    k = pre.crossJoin(F.broadcast(tot)).select(
        F.when(5 * cum <= 4 * F.col("total_cents"), "A")
        .when(20 * cum <= 19 * F.col("total_cents"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
        "total_cents",
    )
    return (
        k.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            (F.sum("cents").cast("double") / 100.0).alias("class_revenue"),
            (
                F.round(
                    F.sum("cents").cast("double")
                    * 10000.0
                    / F.max("total_cents")
                )
                / 10000.0
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )
