"""Second batch of declared inventory entries — operator families the
first batch (``analytics.py``) did not yet cover, each paired with a
DuckDB oracle:

 - unpivot / melt (the complement of `returnflag_status_pivot`)
 - null-aware NOT IN anti join (distinct physical op from left_anti)
 - correlated scalar subquery (oracle) ≡ window aggregate (Spark plan)
 - rank family: dense_rank / percent_rank / cume_dist
 - higher-order array functions (transform / filter / aggregate /
   zip_with) over the embedding column
 - posexplode with element position
 - calendar profiling (year / quarter / day-name date kernels)
 - FULL OUTER join reconciliation with COALESCE defaults

Registered into the same ``QUERIES`` / ``ORACLE`` dicts via the ``q``
decorator so `__spark_entry__` and the parity tests pick them up
unchanged. Authoring rules are the ones at the top of ``analytics.py``
(identical aliases both sides, rounded floats, BIGINT casts, explicit
null ordering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import (
    _CMS_BUCKET,
    _SPLIT_BYTE,
    _hex_int_sql,
    _kmeans_oracle_ctes,
    _t,
    _t_wide,
    q,
)


@q(
    "brand_metric_unpivot",
    """
    WITH wide AS (
      SELECT p_brand,
             round((avg(p_size)) * 10000.0) / 10000.0        AS avg_size,
             round((avg(p_retailprice)) * 100.0) / 100.0 AS avg_retail
      FROM part GROUP BY p_brand
    )
    SELECT p_brand, 'avg_size' AS metric, avg_size AS value FROM wide
    UNION ALL
    SELECT p_brand, 'avg_retail' AS metric, avg_retail AS value FROM wide
    ORDER BY p_brand, metric
    """,
)
def brand_metric_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt — the inverse of `returnflag_status_pivot`: fold a
    wide per-brand metric row into (brand, metric, value) long form.
    Spark's native `unpivot` is a map-only Expand over the aggregated
    frame, so the only shuffle is the groupBy that built the wide
    table."""
    part = _t(spark, sf_dir, "part")
    wide = part.groupBy("p_brand").agg(
        (F.round((F.avg("p_size")) * 10000.0) / 10000.0).alias("avg_size"),
        (F.round((F.avg("p_retailprice")) * 100.0) / 100.0).alias("avg_retail"),
    )
    return wide.unpivot(
        ["p_brand"], ["avg_size", "avg_retail"], "metric", "value"
    ).orderBy("p_brand", "metric")


@q(
    "customers_no_urgent_notin",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    ORDER BY c_custkey
    """,
)
def customers_no_urgent_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware NOT IN anti join — a different operator from
    `left_anti` (Q1's pattern): NOT IN must yield an empty result if the
    subquery produces any NULL, so Spark plans a null-aware
    BroadcastHashJoin rather than a plain anti join. Declared in SQL
    text form because that null-aware semantics has no DataFrame-API
    spelling."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("notin_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("notin_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM notin_customer
        WHERE c_custkey NOT IN (
          SELECT o_custkey FROM notin_orders WHERE o_orderpriority = '1-URGENT'
        )
        ORDER BY c_custkey
        """
    )


@q(
    "bulky_orders_vs_customer_avg",
    """
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_custkey, CAST(count(*) AS BIGINT) AS n_items
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_custkey
    )
    SELECT o_orderkey, o_custkey, n_items FROM per_order p
    WHERE n_items > 1.5 * (
      SELECT avg(n_items) FROM per_order p2 WHERE p2.o_custkey = p.o_custkey
    )
    ORDER BY o_custkey, o_orderkey
    """,
)
def bulky_orders_vs_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (oracle form) ≡ window aggregate
    (Spark form): orders with >1.5× their own customer's average item
    count. The window rewrite computes the per-customer average in the
    same shuffle that groups the orders — one pass, no self-join, which
    is the plan that survives 100 TB (the naive correlated form
    re-aggregates per probe row). Integer item counts keep the
    comparison exact across engines."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    w = W.partitionBy("o_custkey")
    return (
        per_order.withColumn("cust_avg", F.avg("n_items").over(w))
        .where(F.col("n_items") > 1.5 * F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "n_items")
        .orderBy("o_custkey", "o_orderkey")
    )


@q(
    "segment_acctbal_ranks",
    """
    WITH ranked AS (
      SELECT c_mktsegment, c_custkey, round((c_acctbal) * 100.0) / 100.0 AS acctbal,
             dense_rank()   OVER w AS rnk,
             round((percent_rank() OVER w) * 1000000.0) / 1000000.0 AS pct_rank,
             round((cume_dist()    OVER w) * 1000000.0) / 1000000.0 AS cume,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)
    )
    SELECT c_mktsegment, c_custkey, acctbal, rnk, pct_rank, cume, rn
    FROM ranked WHERE rn <= 5
    ORDER BY c_mktsegment, rn
    """,
)
def segment_acctbal_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-function family (dense_rank / percent_rank / cume_dist) —
    the reference has no window functions at all (SURVEY §2.5). Top-5
    balances per market segment; the row_number tie-break keeps output
    deterministic while the analytic ranks keep their pure ORDER BY
    c_acctbal semantics. percent_rank/cume_dist are exact rationals, so
    they compare bit-stably across engines.

    Scale shape (r6 low-cardinality-window audit): the former
    per-segment windows funneled every segment's full customer slice
    through one task (five segments; cume_dist/percent_rank defeat the
    rank-limit pushdown). Every analytic rank is a pure function of
    the per-VALUE rollup: with `before` = rows above this value and
    `cnt` = its tie count, dense_rank is the value's own two-level
    rank, RANK−1 = before ⇒ percent_rank = before/(n−1), cume_dist =
    (before+cnt)/n — all exact rationals of exact integers. Customers
    rejoin only for value groups that can host rn ≤ 5 (before < 5 —
    ≤ 5 groups per segment, broadcast), so the remaining row_number
    window runs on a handful of candidate rows (the curriculum-bucket
    staging trick). Values bit-identical; the oracle keeps the window
    spelling."""
    from ..operators.ranking import ordered_prefix

    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_custkey", "c_acctbal"
    )
    vals = c.groupBy("c_mktsegment", "c_acctbal").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    pre = ordered_prefix(
        vals.withColumn("_negbal", -F.col("c_acctbal")),
        "_negbal",
        rank_col="rnk",
        sums={"_before": "_cnt"},
        buckets=32,
        partition_by=["c_mktsegment"],
    ).drop("_negbal")
    n_seg = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    cand_vals = pre.where(F.col("_before") < 5)
    cand = c.join(
        F.broadcast(cand_vals), ["c_mktsegment", "c_acctbal"]
    ).join(F.broadcast(n_seg), "c_mktsegment")
    wv = W.partitionBy("c_mktsegment", "c_acctbal").orderBy(
        F.asc("c_custkey")
    )
    pct = F.when(
        F.col("_n") > 1,
        F.col("_before").cast("double") / (F.col("_n") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    cume = (F.col("_before") + F.col("_cnt")).cast("double") / F.col(
        "_n"
    ).cast("double")
    return (
        cand.select(
            "c_mktsegment",
            "c_custkey",
            (F.round(F.col("c_acctbal") * 100.0) / 100.0).alias("acctbal"),
            F.col("rnk").cast("int").alias("rnk"),
            (F.round(pct * 1000000.0) / 1000000.0).alias("pct_rank"),
            (F.round(cume * 1000000.0) / 1000000.0).alias("cume"),
            (F.col("_before") + F.row_number().over(wv))
            .cast("int")
            .alias("rn"),
        )
        .where(F.col("rn") <= 5)
        .orderBy("c_mktsegment", "rn")
    )


@q(
    "embedding_norm_profile",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round((sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[]))) * 100000.0) / 100000.0 AS l2_norm,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
           round((list_max(list_transform(embedding::DOUBLE[],
                                         x -> abs(x)))) * 100000.0) / 100000.0 AS max_abs
    FROM embeddings WHERE vec_id < 50 ORDER BY vec_id
    """,
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as first-class operators: transform
    / filter / aggregate / zip_with folds over the embedding column,
    entirely JVM-side (no UDF, no Python worker). This is the kernel
    vocabulary the similarity operators are built from, declared
    standalone so the oracle pins each fold's semantics."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    sq_sum = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        emb.where(F.col("vec_id") < 50)
        .select(
            "vec_id",
            F.size("embedding").alias("dim"),
            (F.round((F.sqrt(sq_sum)) * 100000.0) / 100000.0).alias("l2_norm"),
            F.size(F.filter("embedding", lambda x: x > F.lit(0.0))).alias("n_pos"),
            (F.round((F.array_max(F.transform(v, F.abs))) * 100000.0) / 100000.0).alias("max_abs"),
        )
        .orderBy("vec_id")
    )


@q(
    "doc_leading_tokens",
    """
    SELECT doc_id, pos, token FROM (
      SELECT doc_id,
             unnest(list_transform(toks[1:5],
                    (x, i) -> struct_pack(pos := i - 1, token := x)),
                    recursive := true)
      FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE doc_id < 100) t
    )
    ORDER BY doc_id, pos
    """,
)
def doc_leading_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — un-nesting WITH element position (the reference's
    explode, T8, loses ordinality). First five tokens of each document
    with their 0-based offset; `slice` bounds the fan-out before the
    generate, so the explode never materializes the full token list."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.where(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.posexplode(F.slice(F.split("text", " "), 1, 5)).alias(
                "pos", "token"
            ),
        )
        .orderBy("doc_id", "pos")
    )


@q(
    "ship_calendar_profile",
    """
    SELECT CAST(year(l_shipdate) AS INT)    AS yr,
           CAST(quarter(l_shipdate) AS INT) AS qtr,
           dayname(l_shipdate)              AS dow,
           CAST(count(*) AS BIGINT)         AS n_items,
           round((sum(l_quantity)) * 100.0) / 100.0        AS sum_qty
    FROM lineitem
    GROUP BY yr, qtr, dow
    ORDER BY yr, qtr, dow
    """,
)
def ship_calendar_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-kernel profiling: year / quarter / day-name extraction
    feeding one grouped aggregate. All three date kernels run inside
    whole-stage codegen on the scan; the group key is low-cardinality
    (year × 4 × 7) so the shuffle is a few hundred rows regardless of
    input scale."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.year("l_shipdate").cast("int").alias("yr"),
            F.quarter("l_shipdate").cast("int").alias("qtr"),
            F.date_format("l_shipdate", "EEEE").alias("dow"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.round((F.sum("l_quantity")) * 100.0) / 100.0).alias("sum_qty"),
        )
        .orderBy("yr", "qtr", "dow")
    )


@q(
    "purchase_click_user_recon",
    """
    WITH p AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
             round((sum(value)) * 100.0) / 100.0 AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    k AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks
      FROM events WHERE event_type = 'click' GROUP BY user_id
    )
    SELECT COALESCE(p.user_id, k.user_id) AS user_id,
           COALESCE(p.n_purchases, 0) AS n_purchases,
           COALESCE(p.purchase_value, 0.0) AS purchase_value,
           COALESCE(k.n_clicks, 0) AS n_clicks,
           CASE WHEN p.user_id IS NULL THEN 'click_only'
                WHEN k.user_id IS NULL THEN 'purchase_only'
                ELSE 'both' END AS presence
    FROM p FULL OUTER JOIN k ON p.user_id = k.user_id
    ORDER BY user_id
    """,
)
def purchase_click_user_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join reconciliation — the one join family no other
    entry exercises: per-user purchase vs click activity with COALESCE
    defaults and a presence label. Both sides aggregate before the
    join, so the outer join runs on the (small) per-user frames and
    AQE picks the strategy; the same shape reconciles table snapshots
    at warehouse scale."""
    ev = _t(spark, sf_dir, "events")
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (F.round((F.sum("value")) * 100.0) / 100.0).alias("purchase_value"),
        )
    )
    k = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    joined = p.alias("p").join(
        k.alias("k"), F.col("p.user_id") == F.col("k.user_id"), "full_outer"
    )
    return joined.select(
        F.coalesce(F.col("p.user_id"), F.col("k.user_id")).alias("user_id"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.when(F.col("p.user_id").isNull(), "click_only")
        .when(F.col("k.user_id").isNull(), "purchase_only")
        .otherwise("both")
        .alias("presence"),
    ).orderBy("user_id")


@q(
    "doc_frequent_long_tokens",
    """
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(regexp_extract_all(text, '[a-z]{5,}')) AS token
          FROM documents)
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def doc_frequent_long_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-kernel text mining: regexp_extract_all pulls every ≥5-letter
    token, explode + count gives the corpus frequency table. The regex
    runs inside whole-stage codegen on the scan; only (token, partial
    count) pairs shuffle, so the wide document bodies never move."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all("text", F.lit("[a-z]{5,}"), F.lit(0))
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@q(
    "part_name_fuzzy_neighbors",
    """
    WITH queries AS (
      SELECT p_partkey AS query_key, p_name AS query_name
      FROM part WHERE p_partkey < 5
    ),
    scored AS (
      SELECT q.query_key, q.query_name, p.p_partkey AS neighbor_key,
             p.p_name AS neighbor_name,
             CAST(levenshtein(q.query_name, p.p_name) AS INT) AS edit_dist
      FROM queries q JOIN part p ON p.p_partkey <> q.query_key
    )
    SELECT query_key, neighbor_key, neighbor_name, edit_dist FROM (
      SELECT *, row_number() OVER (PARTITION BY query_key
                                   ORDER BY edit_dist, neighbor_key) AS rn
      FROM scored
    ) WHERE rn <= 3
    ORDER BY query_key, edit_dist, neighbor_key
    """,
)
def part_name_fuzzy_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching (the string-similarity counterpart
    of the embedding/simhash neighbor entries): 3 nearest part names by
    Levenshtein for each query key. The query set broadcasts, so
    scoring is map-only query×corpus — the only shape a pairwise string
    metric survives at scale — and the window top-k bounds output."""
    part = _t(spark, sf_dir, "part")
    queries = part.where(F.col("p_partkey") < 5).select(
        F.col("p_partkey").alias("query_key"), F.col("p_name").alias("query_name")
    )
    scored = part.join(
        F.broadcast(queries), F.col("p_partkey") != F.col("query_key")
    ).select(
        "query_key",
        F.col("p_partkey").alias("neighbor_key"),
        F.col("p_name").alias("neighbor_name"),
        F.levenshtein("query_name", "p_name").cast("int").alias("edit_dist"),
    )
    w = W.partitionBy("query_key").orderBy("edit_dist", "neighbor_key")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
        .orderBy("query_key", "edit_dist", "neighbor_key")
    )


@q(
    "source_lang_nullsafe_recon",
    """
    WITH a AS (
      SELECT nullif(lang, 'en') AS lang_grp, CAST(count(*) AS BIGINT) AS n_even
      FROM documents WHERE CAST(substr(source, 4) AS INT) % 2 = 0
      GROUP BY lang_grp
    ),
    b AS (
      SELECT nullif(lang, 'en') AS lang_grp, CAST(count(*) AS BIGINT) AS n_odd
      FROM documents WHERE CAST(substr(source, 4) AS INT) % 2 = 1
      GROUP BY lang_grp
    )
    SELECT COALESCE(a.lang_grp, b.lang_grp) AS lang_grp_out,
           a.lang_grp IS NULL AND b.lang_grp IS NULL AS is_default_grp,
           COALESCE(a.n_even, 0) AS n_even, COALESCE(b.n_odd, 0) AS n_odd
    FROM a FULL OUTER JOIN b ON a.lang_grp IS NOT DISTINCT FROM b.lang_grp
    ORDER BY lang_grp_out NULLS FIRST
    """,
)
def source_lang_nullsafe_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL group
    keys must MATCH each other, which a plain equi-join silently drops —
    the classic reconciliation bug when a grouping column is nullable.
    Even- vs odd-numbered sources aggregated per nullable language
    group (NULLIF folds 'en' to NULL to exercise the path), then
    null-safely reconciled."""
    docs = _t(spark, sf_dir, "documents")
    grp = F.expr("nullif(lang, 'en')")
    src_num = F.substring("source", 4, 10).cast("int")
    a = (
        docs.where(src_num % 2 == 0)
        .groupBy(grp.alias("lang_grp"))
        .agg(F.count(F.lit(1)).alias("n_even"))
    )
    b = (
        docs.where(src_num % 2 == 1)
        .groupBy(grp.alias("lang_grp"))
        .agg(F.count(F.lit(1)).alias("n_odd"))
    )
    joined = a.alias("a").join(
        b.alias("b"),
        F.col("a.lang_grp").eqNullSafe(F.col("b.lang_grp")),
        "full_outer",
    )
    return joined.select(
        F.coalesce(F.col("a.lang_grp"), F.col("b.lang_grp")).alias("lang_grp_out"),
        (F.col("a.lang_grp").isNull() & F.col("b.lang_grp").isNull()).alias(
            "is_default_grp"
        ),
        F.coalesce("n_even", F.lit(0)).alias("n_even"),
        F.coalesce("n_odd", F.lit(0)).alias("n_odd"),
    ).orderBy(F.asc_nulls_first("lang_grp_out"))


@q(
    "order_priority_status_cube",
    """
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL')   AS status,
           grouping(o_orderpriority) + grouping(o_orderstatus) AS agg_level,
           CAST(count(*) AS BIGINT) AS n_orders,
           round((sum(o_totalprice)) * 100.0) / 100.0 AS total_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    ORDER BY agg_level, priority, status
    """,
)
def order_priority_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all 2^n grouping combinations in ONE Expand + aggregate
    (completes the ROLLUP / GROUPING SETS family): per-(priority,
    status), per-priority, per-status, and grand-total rows, tagged
    with their grouping level. One scan, one shuffle, regardless of
    how many grouping sets the cube expands to."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            # grouping() markers must resolve inside the Aggregate node
            (
                F.grouping("o_orderpriority") + F.grouping("o_orderstatus")
            ).alias("agg_level"),
            F.count(F.lit(1)).alias("n_orders"),
            (F.round((F.sum("o_totalprice")) * 100.0) / 100.0).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "agg_level",
            "n_orders",
            "total_price",
        )
        .orderBy("agg_level", "priority", "status")
    )


@q(
    "source_lang_map_roundtrip",
    """
    SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY source, lang
    ORDER BY source, lang
    """,
)
def source_lang_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column construction and un-nesting: per-source counts
    collected into a `map<lang, n>` (collect_list(struct) →
    map_from_entries), then exploded back to rows. The map is the kind
    of per-entity typed summary a feature store keeps; the roundtrip
    proves both directions against a plain-GROUP-BY oracle. The
    collect_list is bounded: ≤ |langs| entries per source."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n_docs"))
    mapped = per.groupBy("source").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("lang", "n_docs")))
        ).alias("lang_counts")
    )
    return (
        mapped.select("source", F.explode("lang_counts").alias("lang", "n_docs"))
        .orderBy("source", "lang")
    )


@q(
    "event_props_variant_hist",
    """
    SELECT CAST(json_extract(props, '$.k')::INT // 10 AS INT) AS k_decade,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(json_extract(props, '$.k')::INT) AS INT) AS min_k,
           CAST(max(json_extract(props, '$.k')::INT) AS INT) AS max_k
    FROM events WHERE props IS NOT NULL
    GROUP BY k_decade ORDER BY k_decade
    """,
)
def event_props_variant_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT-typed semi-structured access (Spark 4's open-format
    binary JSON): `parse_json` ingests the payload once into a Variant
    column, `variant_get` does typed path extraction — the schema-on-
    read path that replaces repeated string re-parsing when a payload
    is touched by many expressions. Histogram of the k field by decade;
    oracle reads the same path with SQL json_extract."""
    ev = _t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.where(F.col("props").isNotNull())
        .select(k.alias("k"))
        .groupBy(F.expr("k div 10").cast("int").alias("k_decade"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
        )
        .orderBy("k_decade")
    )


@q(
    "doc_fixed_chunks_udtf",
    """
    SELECT doc_id, chunk_id, chunk FROM (
      SELECT doc_id,
             unnest(list_transform(regexp_extract_all(text, '.{1,40}'),
                    (x, i) -> struct_pack(chunk_id := i - 1, chunk := x)),
                    recursive := true)
      FROM documents WHERE doc_id < 50
    )
    ORDER BY doc_id, chunk_id
    """,
)
def doc_fixed_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) surface: fixed-width document
    chunking as a LATERAL row generator. The UDTF is the
    EXTENSIBILITY demo — arbitrary Python fan-out logic where no
    built-in generator fits; for this particular chunking the native
    regexp/slice path (see `pack_token_budget`) is the scale path, so
    the UDTF is bounded to a 50-doc slice. Oracle reproduces the exact
    windows with greedy regex chunks."""
    from ..operators.text import FixedChunker

    docs = _t(spark, sf_dir, "documents")
    spark.udtf.register("fixed_chunker", FixedChunker)
    docs.where(F.col("doc_id") < 50).createOrReplaceTempView("chunk_src")
    return spark.sql(
        """
        SELECT s.doc_id, c.chunk_id, c.chunk
        FROM chunk_src s, LATERAL fixed_chunker(s.text, 40) c
        ORDER BY s.doc_id, c.chunk_id
        """
    )


@q(
    "hourly_event_spine_filled",
    """
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
      FROM bounds
    ),
    actual AS (
      SELECT date_trunc('hour', ts) AS hour_ts, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY hour_ts
    )
    SELECT strftime(s.hour_ts, '%Y-%m-%d %H:00') AS hour_label,
           COALESCE(a.n_events, 0) AS n_events,
           a.hour_ts IS NULL AS is_gap
    FROM spine s LEFT JOIN actual a ON a.hour_ts = s.hour_ts
    ORDER BY hour_label
    """,
)
def hourly_event_spine_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling: generate the complete hourly spine
    between the corpus min/max (`sequence` + explode — data generation
    as an operator), left-join the actual per-hour counts onto it, and
    mark empty hours. The spine is derived from a 2-row aggregate and
    explodes JVM-side, so the pattern costs one scan + one small join
    at any scale — the standard fix for 'missing buckets' in windowed
    reports and training-data time series."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts")
    )
    actual = ev.groupBy(F.date_trunc("hour", "ts").alias("hour_ts")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        spine.alias("s")
        .join(actual.alias("a"), F.col("s.hour_ts") == F.col("a.hour_ts"), "left")
        .select(
            F.date_format("s.hour_ts", "yyyy-MM-dd HH:00").alias("hour_label"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.col("a.hour_ts").isNull().alias("is_gap"),
        )
        .orderBy("hour_label")
    )


@q(
    "training_sample_assembly",
    f"""
    WITH j AS (
      SELECT d.doc_id, d.lang, d.source,
             CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
             round((sqrt(list_dot_product(e.embedding::DOUBLE[],
                                         e.embedding::DOUBLE[]))) * 100000.0) / 100000.0 AS l2_norm,
             {_SPLIT_BYTE} AS bucket
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    )
    SELECT doc_id, lang, source, n_tokens, l2_norm FROM j
    WHERE bucket < 204 AND n_tokens BETWEEN 5 AND 2000
    ORDER BY doc_id
    """,
)
def training_sample_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone sample-prep query — the shape a training-data pipeline
    actually ships: text table ⋈ embedding table on document id, token
    count and vector norm as features, a length quality filter, and the
    deterministic md5 train-split membership — one pass, all JVM-side.
    The doc⋈embedding equi-join is THE recurring shuffle of sample
    assembly; at warehouse scale both tables bucket on the id
    (test_bucketed_join_avoids_shuffle proves the zero-Exchange
    layout), making this map-only end to end."""
    from ..operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    sq_sum = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    joined = docs.join(emb, docs.doc_id == emb.vec_id).select(
        docs.doc_id,
        "lang",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
        (F.round((F.sqrt(sq_sum)) * 100000.0) / 100000.0).alias("l2_norm"),
    )
    return (
        hash_split(joined, "doc_id")
        .where(F.col("split") == "train")
        .where(F.col("n_tokens").between(5, 2000))
        .drop("split")
        .orderBy("doc_id")
    )


@q(
    "user_event_locf_fill",
    """
    SELECT user_id, event_id,
           round((last_value(purchase_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100.0) / 100.0
             AS last_purchase_value,
           event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
      FROM events WHERE user_id < 3
    )
    ORDER BY user_id, event_id
    """,
)
def user_event_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF imputation (last observation carried forward): every event
    annotated with its user's most recent purchase value —
    `last(ignorenulls)` over an ordered running frame, the standard
    forward-fill for sparse signals in training-data assembly. One
    shuffle on the partition key; the running frame needs no second
    pass. Sorting includes event_id so concurrent-timestamp rows fill
    deterministically."""
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    return (
        ev.where(F.col("user_id") < 3)
        .select(
            "user_id",
            "event_id",
            (F.round((F.last(pv, ignorenulls=True).over(w)) * 100.0) / 100.0).alias(
                "last_purchase_value"
            ),
            "event_type",
        )
        .orderBy("user_id", "event_id")
    )


@q(
    "order_due_calendar",
    """
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY,
                    '%Y-%m-%d') AS due_date,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH,
                    '%Y-%m-%d') AS review_date,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          last_day(CAST(o_orderdate AS DATE))) AS INT)
             AS days_to_month_end
    FROM orders WHERE o_orderkey < 100
    ORDER BY o_orderkey
    """,
)
def order_due_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval / calendar arithmetic kernels (date_add, add_months,
    last_day, datediff) — all map-only projections in codegen. Dates
    ship as formatted strings so the oracle compare is type-exact.
    add_months pins month-end clamping semantics (Jan 31 + 1 month =
    Feb 28 in both engines)."""
    orders = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (
        orders.where(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
            F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
            F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("review_date"),
            F.datediff(F.last_day(d), d).cast("int").alias("days_to_month_end"),
        )
        .orderBy("o_orderkey")
    )


@q(
    "doc_token_cms_topk",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    cells AS (
      SELECT j, {_CMS_BUCKET.format(j="j", tok="token")} AS bucket,
             cnt
      FROM vocab CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
    ),
    sketch AS (
      SELECT j, bucket, CAST(sum(cnt) AS BIGINT) AS c
      FROM cells GROUP BY j, bucket
    ),
    top10 AS (
      SELECT token, CAST(cnt AS BIGINT) AS true_cnt
      FROM vocab ORDER BY cnt DESC, token ASC LIMIT 10
    ),
    probe AS (
      SELECT t.token, t.true_cnt, min(s.c) AS cms_est
      FROM top10 t
      CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) d
      JOIN sketch s
        ON s.j = d.j
       AND s.bucket = {_CMS_BUCKET.format(j="d.j", tok="t.token")}
      GROUP BY t.token, t.true_cnt
    )
    SELECT token, true_cnt, CAST(cms_est AS BIGINT) AS cms_est
    FROM probe ORDER BY true_cnt DESC, token ASC
    """,
)
def doc_token_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the corpus's top-10
    tokens, next to the exact counts. The sketch (4 × 256 mergeable
    counters, md5-bucket hashing) is the fixed-size substitute for the
    exact vocabulary at 100 TB — the oracle rebuilds the identical grid
    in SQL, and the one-sided CMS guarantee (est >= truth) is pinned by
    a property test. See operators/sketch.py for shuffle shape."""
    from ..operators.sketch import cms_build, cms_estimate

    docs = _t_wide(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    # ONE vocabulary aggregation feeds both the sketch (via the
    # pre-aggregated weight_col path) and the exact top-10 — the
    # corpus-wide explode + token shuffle happens once, not twice.
    vocab = tokens.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    sketch = cms_build(vocab, "token", depth=4, weight_col="true_cnt")
    top10 = vocab.orderBy(F.desc("true_cnt"), F.asc("token")).limit(10)
    return cms_estimate(sketch, top10, "token", depth=4).orderBy(
        F.desc("true_cnt"), F.asc("token")
    )


@q(
    "purchase_click_cogroup_stats",
    """
    WITH p AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
         gaps AS (
           SELECT p.user_id,
                  date_diff('second', c.ts, p.ts) AS gap_s
           FROM p ASOF LEFT JOIN c
             ON p.user_id = c.user_id AND p.ts >= c.ts
         )
    SELECT user_id,
           CAST(count(*) AS BIGINT)     AS n_purchases,
           CAST(count(gap_s) AS BIGINT) AS n_matched,
           round((quantile_cont(gap_s, 0.5)) * 10.0) / 10.0 AS median_gap_s,
           CAST(max(gap_s) AS BIGINT)   AS max_gap_s
    FROM gaps GROUP BY user_id ORDER BY user_id
    """,
)
def purchase_click_cogroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user purchase→preceding-click gap profile via the cogrouped
    Arrow path (``as_of_join_cogroup``): both event slices shuffle once
    on user_id, then ``pd.merge_asof`` aligns them per group. Same
    backward-asof semantics as `purchase_asof_click` (so DuckDB's
    native ASOF JOIN remains the oracle) but a distinct physical
    shape — the cogroup variant also supports nearest/tolerance
    matching, pinned by unit tests. Gap stats computed natively after
    alignment; median interpolates like quantile_cont(0.5)."""
    from ..operators.asof import as_of_join_cogroup

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    aligned = as_of_join_cogroup(purchases, clicks, "user_id")
    gap = F.col("ts").cast("long") - F.col("ts_asof").cast("long")
    return (
        aligned.select("user_id", gap.alias("gap_s"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count("gap_s").alias("n_matched"),
            (F.round((F.percentile("gap_s", F.lit(0.5))) * 10.0) / 10.0).alias("median_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


@q(
    "doc_weighted_sample",
    f"""
    WITH w AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS wt FROM documents),
    tot AS (SELECT CAST(sum(wt) AS DOUBLE) AS W, CAST(count(*) AS DOUBLE) AS N
            FROM w),
    s AS (SELECT doc_id, wt FROM w, tot
          WHERE CAST({_hex_int_sql("md5('ws:' || CAST(doc_id AS VARCHAR))", 4)} AS DOUBLE) * W
                < 0.2 * N * wt * 65536.0)
    SELECT CAST(count(*) AS BIGINT)    AS n_sampled,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(sum(wt) AS BIGINT)     AS chars_kept
    FROM s
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus downsample (~20% expected, p_i ∝ n_chars):
    longer documents preferentially survive — the importance-weighted
    sampling step of corpus curation, but rand()-free: acceptance is a
    pure function of md5(doc_id) and the corpus totals, so membership
    is identical across runs, partitionings, and the SQL oracle. One
    tiny agg broadcast back + a map-only filter; integer weights keep
    every sum fp-exact on both engines. Output is the membership
    checksum triple."""
    from ..operators.sampling import weighted_hash_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_hash_sample(docs, "doc_id", "n_chars", rate=0.2).agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum(F.col("n_chars").cast("double")).cast("long").alias("chars_kept"),
    )


@q(
    "embedding_ivf_topk",
    f"""
    WITH {_kmeans_oracle_ctes(3)},
    qv AS (SELECT vec_id AS query_id FROM embeddings ORDER BY vec_id ASC LIMIT 3),
    qx AS (SELECT q.query_id, v.d, v.x FROM qv q JOIN vx v ON v.vec_id = q.query_id),
    qnorm AS (SELECT query_id, sqrt(sum(x * x)) AS qn FROM qx GROUP BY query_id),
    cnorm AS (SELECT cluster, sqrt(sum(c * c)) AS cn FROM c3 GROUP BY cluster),
    route AS (
      SELECT query_id, cluster FROM (
        SELECT query_id, cluster,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rsim DESC, cluster ASC) AS rn
        FROM (
          SELECT q.query_id, c.cluster,
                 CASE WHEN cn.cn * qn.qn > 0
                      THEN round((sum(q.x * c.c) / (cn.cn * qn.qn)) * 1000000.0)
                           / 1000000.0
                      ELSE -1.0 END AS rsim
          FROM qx q
          JOIN c3 c USING (d)
          JOIN cnorm cn ON cn.cluster = c.cluster
          JOIN qnorm qn ON qn.query_id = q.query_id
          GROUP BY q.query_id, c.cluster, cn.cn, qn.qn
        )
      ) WHERE rn <= 2
    ),
    vnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS vn FROM vx GROUP BY vec_id),
    cand AS (
      SELECT r.query_id, a.vec_id
      FROM route r JOIN afin a ON a.cluster = r.cluster
    ),
    dots AS (
      SELECT c.query_id, c.vec_id, sum(v.x * q.x) AS dot
      FROM cand c
      JOIN vx v ON v.vec_id = c.vec_id
      JOIN qx q ON q.query_id = c.query_id AND q.d = v.d
      GROUP BY c.query_id, c.vec_id
    ),
    scored AS (
      SELECT d.query_id, d.vec_id,
             CASE WHEN vn.vn * qn.qn > 0
                  THEN round((d.dot / (vn.vn * qn.qn)) * 1000000.0) / 1000000.0
                  ELSE -1.0 END AS cos_sim
      FROM dots d
      JOIN vnorm vn USING (vec_id)
      JOIN qnorm qn USING (query_id)
    )
    SELECT query_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    ORDER BY query_id ASC, rank ASC
    """,
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search path over the trained IVF index: route each query to
    its nprobe=2 nearest k-means cells, scan only those inverted lists,
    rank by rounded cosine with id tie-breaks. The oracle reuses the
    unrolled-Lloyd's CTE chain (``registry._kmeans_oracle_ctes``, 3
    iterations to match) — with centroids pinned by those CTEs the
    nprobe routing and per-cell scan are plain SQL top-k. Exact-recall
    vs brute force on separated blobs stays pinned in
    tests/test_scale_patterns.py."""
    from ..operators.similarity import ivf_topk, kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    centroids, assigned = kmeans_fit(emb, "vec_id", "embedding", k=8, n_iters=3)
    qrows = emb.orderBy("vec_id").limit(3).collect()
    queries = [(int(r["vec_id"]), list(r["embedding"])) for r in qrows]
    return ivf_topk(assigned, centroids, queries, "vec_id", k=5, nprobe=2).orderBy(
        "query_id", "rank"
    )


@q(
    "lateral_top_suppliers",
    """
    SELECT n.n_name, s.s_name, s.acctbal
    FROM nation n,
    LATERAL (
      SELECT s_name, round((s_acctbal) * 100.0) / 100.0 AS acctbal
      FROM supplier WHERE s_nationkey = n.n_nationkey
      ORDER BY s_acctbal DESC, s_name ASC LIMIT 2
    ) s
    ORDER BY n.n_name ASC, s.acctbal DESC, s.s_name ASC
    """,
)
def lateral_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — per-nation top-2 suppliers phrased
    as a dependent subquery rather than a window. Declared in SQL text
    (LATERAL has no DataFrame-API spelling); Spark decorrelates it into
    a join + per-group limit, so the plan converges with the
    `top_orders_per_priority` window shape instead of re-executing the
    subquery per outer row — the property that keeps LATERAL usable on
    a large outer side."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("lat_supplier")
    return spark.sql(
        """
        SELECT n.n_name, s.s_name, s.acctbal
        FROM lat_nation n,
        LATERAL (
          SELECT s_name, round((s_acctbal) * 100.0) / 100.0 AS acctbal
          FROM lat_supplier WHERE s_nationkey = n.n_nationkey
          ORDER BY s_acctbal DESC, s_name ASC LIMIT 2
        ) s
        ORDER BY n.n_name ASC, s.acctbal DESC, s.s_name ASC
        """
    )


@q(
    "event_value_anomalies",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, abs(e.value - m.med) AS adev, m.med
      FROM events e JOIN med m ON e.event_type = m.event_type
      WHERE e.value IS NOT NULL
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_anomalies,
           round((min(d.value)) * 1000.0) / 1000.0   AS min_anom,
           round((max(d.value)) * 1000.0) / 1000.0   AS max_anom
    FROM dev d JOIN mad ON d.event_type = mad.event_type
    WHERE d.adev > 3 * mad.mad
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
)
def event_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: events whose value deviates from their
    type's median by more than 3× the median absolute deviation.
    Median/MAD (not mean/stddev) so the detector itself is immune to
    the outliers it hunts. Two grouped exact percentiles with the tiny
    per-type stats broadcast back between them — the fact table scans
    twice but never self-joins; at 100 TB swap `percentile` for
    `percentile_approx` (tolerance-tested in test_scale_patterns)."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.col("adev") > 3 * F.col("mad"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_anomalies"),
            (F.round((F.min("value")) * 1000.0) / 1000.0).alias("min_anom"),
            (F.round((F.max("value")) * 1000.0) / 1000.0).alias("max_anom"),
        )
        .orderBy("event_type")
    )


@q(
    "user_funnel_counts",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT '2_click_after_view', CAST(count(*) AS BIGINT) FROM c
      UNION ALL
      SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p
    ) ORDER BY stage
    """,
)
def user_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: users who viewed, then clicked strictly
    after their first view, then purchased strictly after that click.
    Each stage is a conditional min over the previous stage's per-user
    anchor — filter-then-join-then-agg, so every stage shuffles only
    the per-user anchor table, never events². Strict `>` between stages
    keeps the definition engine-identical without relying on event-id
    tie-break order."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    spark_counts = [
        v.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit("1_view").alias("stage"), "n_users"
        ),
        c.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit("2_click_after_view").alias("stage"), "n_users"
        ),
        p.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit("3_purchase_after_click").alias("stage"), "n_users"
        ),
    ]
    out = spark_counts[0]
    for s in spark_counts[1:]:
        out = out.unionByName(s)
    return out.orderBy("stage")


@q(
    "user_weekly_retention",
    """
    WITH firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT e.user_id,
             CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
             CAST(date_diff('day',
                            CAST(date_trunc('week', f.first_ts) AS DATE),
                            CAST(date_trunc('week', e.ts) AS DATE)) / 7
                  AS INT) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM act GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def user_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the week of their
    first event, counted in every later week they were active — the
    (cohort × week-offset) retention matrix. One shuffle builds the
    per-user anchor, which joins back and distinct-collapses to
    (user, cohort, offset) before the final count; the fact table never
    self-joins. Monday-start `date_trunc('week')` agrees across
    engines."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cw = F.date_trunc("week", F.col("first_ts")).cast("date")
    aw = F.date_trunc("week", F.col("ts")).cast("date")
    act = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            cw.alias("cohort_week"),
            (F.datediff(aw, cw) / 7).cast("int").alias("week_offset"),
        )
        .distinct()
    )
    return (
        act.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
        .orderBy("cohort_week", "week_offset")
    )


@q(
    "doc_source_capped_sample",
    f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {_hex_int_sql("md5('cap:' || CAST(doc_id AS VARCHAR))", 2)},
                        doc_id
             ) AS rn
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT)   AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM ranked WHERE rn <= 50
    GROUP BY source ORDER BY source
    """,
)
def doc_source_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source balancing: cap each source at 50 documents, chosen by a
    salted-hash order (deterministic lottery — no rand(), and the
    'cap:' salt keeps the pick independent of the split/sample
    hashes). One shuffle on source; WindowGroupLimit pushes the rn<=50
    filter below the sort, so an over-represented crawl never
    dominates the mix. The id_sum is the membership checksum."""
    from ..operators.sampling import _md5_byte0

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    w = W.partitionBy("source").orderBy(
        _md5_byte0(F.col("doc_id"), salt="cap:"), F.asc("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 50)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("source")
    )


@q(
    "doc_bigram_counts",
    """
    WITH toks AS (
      SELECT doc_id, t.token, t.pos
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS token,
                           generate_subscripts(string_split(text, ' '), 1) AS pos) t
    ),
    bi AS (
      SELECT a.token AS w1, b.token AS w2
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    )
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
    FROM bi GROUP BY w1, w2
    ORDER BY n DESC, w1 ASC, w2 ASC LIMIT 30
    """,
)
def doc_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram table (the n-gram-LM / phrase-mining primitive),
    built IN-ROW: each document zips its token array with its own tail
    (arrays_zip + slice) so adjacent pairs never need a positional
    self-join — the only shuffle is the final count over (w1, w2). The
    oracle spells the same pairs relationally (pos+1 self-join)."""

    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(toks, 1, n1).alias("w1"),
        F.slice(toks, 2, n1).alias("w2"),
    )
    return (
        docs.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("w1"), F.asc("w2"))
        .limit(30)
    )


@q(
    "doc_normalization_profile",
    r"""
    WITH n AS (
      SELECT lang, text,
             trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
                                 '\s+', ' ', 'g')) AS norm
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)                                 AS n_docs,
           CAST(sum(len(text)) AS BIGINT)                           AS chars_raw,
           CAST(sum(len(norm)) AS BIGINT)                           AS chars_norm,
           CAST(sum(CASE WHEN norm <> text THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed
    FROM n GROUP BY lang ORDER BY lang
    """,
)
def doc_normalization_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language effect of the standard text normalization
    (lowercase, punctuation strip, whitespace collapse) — the pre-dedup
    cleanup pass. Map-only projection in codegen, one tiny groupBy;
    char deltas quantify how much surface noise each language slice
    carries. DuckDB needs the 'g' flag for global regexp_replace —
    Spark replaces all matches by default."""
    from ..operators.text import normalize_text

    docs = _t(spark, sf_dir, "documents").select("lang", "text")
    n = docs.withColumn("norm", normalize_text(F.col("text")))
    return (
        n.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("chars_raw"),
            F.sum(F.length("norm")).cast("long").alias("chars_norm"),
            F.sum((F.col("norm") != F.col("text")).cast("long"))
            .cast("long")
            .alias("n_changed"),
        )
        .orderBy("lang")
    )


@q(
    "doc_bigram_collocations",
    """
    WITH toks AS (
      SELECT doc_id, t.token, t.pos
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS token,
                           generate_subscripts(string_split(text, ' '), 1) AS pos) t
    ),
    uni AS (SELECT token, CAST(count(*) AS BIGINT) AS u FROM toks GROUP BY token),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS t_uni FROM toks),
    bi AS (
      SELECT a.token AS w1, b.token AS w2, CAST(count(*) AS BIGINT) AS b
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      GROUP BY a.token, b.token
    ),
    btot AS (SELECT CAST(sum(b) AS DOUBLE) AS t_bi FROM bi)
    SELECT w1, w2, b AS n_pair,
           round(((b / t_bi) / ((u1.u / t_uni) * (u2.u / t_uni))) * 1000.0) / 1000.0 AS lift
    FROM bi, tot, btot
    JOIN uni u1 ON u1.token = bi.w1
    JOIN uni u2 ON u2.token = bi.w2
    WHERE b >= 5
    ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT 25
    """,
)
def doc_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: bigram lift (the exp of PMI) — how much more
    often a pair co-occurs than its unigrams predict. Pure ×/÷
    arithmetic instead of log() keeps the score bit-identical across
    engines (libm ln differs in the last ulp); the unigram marginal
    table broadcasts onto the bigram table, so beyond the token counts
    nothing re-shuffles. b>=5 is the standard low-count PMI guard."""

    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(toks, 1, n1).alias("w1"), F.slice(toks, 2, n1).alias("w2")
    )
    unigrams = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("u"))
    )
    t_uni = unigrams.agg(F.sum("u").cast("double").alias("t_uni"))
    bigrams = (
        docs.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("b"))
        .where(F.col("b") >= 5)
    )
    t_bi = (
        docs.select(F.explode(pairs).alias("p"))
        .agg(F.count(F.lit(1)).cast("double").alias("t_bi"))
    )
    u1 = unigrams.select(F.col("token").alias("w1"), F.col("u").alias("u1"))
    u2 = unigrams.select(F.col("token").alias("w2"), F.col("u").alias("u2"))
    lift = (F.col("b") / F.col("t_bi")) / (
        (F.col("u1") / F.col("t_uni")) * (F.col("u2") / F.col("t_uni"))
    )
    return (
        # vocabulary joins stay UNHINTED key-shuffle equi-joins (the
        # bigram-LM perplexity entry's rule: a 100 TB corpus's vocab
        # is too big to force-broadcast); only the one-row totals ride
        # broadcasts.
        bigrams.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(t_uni))
        .crossJoin(F.broadcast(t_bi))
        .select(
            "w1", "w2", F.col("b").alias("n_pair"),
            (F.round((lift) * 1000.0) / 1000.0).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
        .limit(25)
    )


@q(
    "full_priority_coverage_customers",
    """
    WITH pr AS (SELECT DISTINCT o_orderpriority FROM orders),
    need AS (SELECT CAST(count(*) AS BIGINT) AS need FROM pr),
    cover AS (
      SELECT o_custkey,
             CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT c.o_custkey, c.n_priorities, c.n_orders
    FROM cover c, need
    WHERE c.n_priorities = need.need
    ORDER BY c.o_custkey
    """,
)
def full_priority_coverage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (the FOR-ALL query family — absent from the
    reference, SURVEY §2.5): customers who have placed orders at EVERY
    priority level. Division by counting: distinct covered values per
    customer == universe size, one aggregate over the fact table
    instead of the textbook double-NOT-EXISTS (two correlated
    anti-join passes). The universe count broadcasts as a one-row
    frame."""
    orders = _t(spark, sf_dir, "orders")
    need = (
        orders.select("o_orderpriority")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("need"))
    )
    cover = orders.groupBy("o_custkey").agg(
        F.count_distinct("o_orderpriority").cast("long").alias("n_priorities"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    return (
        cover.crossJoin(F.broadcast(need))
        .where(F.col("n_priorities") == F.col("need"))
        .select("o_custkey", "n_priorities", "n_orders")
        .orderBy("o_custkey")
    )


@q(
    "customer_rfm_segments",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS frequency,
             round((sum(o_totalprice)) * 100.0) / 100.0 AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, frequency, monetary,
             ntile(4) OVER (ORDER BY last_order ASC, o_custkey ASC) AS r_q,
             ntile(4) OVER (ORDER BY frequency ASC, o_custkey ASC) AS f_q,
             ntile(4) OVER (ORDER BY monetary ASC, o_custkey ASC) AS m_q
      FROM per_cust
    )
    SELECT r_q, f_q, m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           round((sum(monetary)) * 100.0) / 100.0 AS total_monetary
    FROM scored GROUP BY r_q, f_q, m_q
    ORDER BY r_q, f_q, m_q
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles) —
    the classic customer-scoring matrix. One fact aggregate; the
    oracle keeps the three literal ntile windows, while the Spark
    plan computes IDENTICAL quartiles without any single-partition
    window (the r4 allowlist's documented swap, now landed): three
    global ranks in ONE ``ordered_prefix_multi`` call (range-bucket
    two-level, exact-integer offsets; recency keys on epoch-days so
    the cut sampling stays numeric — all three keys share a single
    percentile cuts job, VERDICT r5 item 5) + ``ntile_of_rank``
    integer bucket arithmetic. custkey tie-breaks make every quartile
    assignment engine-identical. Output is the segment-cell census."""
    from ..operators.ranking import RankSpec, ntile_of_rank, ordered_prefix_multi

    orders = _t(spark, sf_dir, "orders")
    # persisted (ADVICE r5): the cuts job, the stats job, the count
    # below, and the final window chain each re-execute this scan +
    # groupBy otherwise; the first aux job materializes the cache
    # (jobs are sequential, so no racing-writer hazard).
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        (F.round((F.sum("o_totalprice")) * 100.0) / 100.0).alias("monetary"),
    ).persist()
    n = per_cust.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    g = ordered_prefix_multi(
        per_cust,
        [
            RankSpec(
                F.datediff(
                    F.col("last_order"), F.lit("1970-01-01").cast("date")
                ),
                ["o_custkey"],
                "_rr",
            ),
            RankSpec("frequency", ["o_custkey"], "_rf"),
            RankSpec("monetary", ["o_custkey"], "_rm"),
        ],
        buckets=32,
    )
    scored = g.crossJoin(F.broadcast(n)).select(
        "o_custkey", "frequency", "monetary",
        ntile_of_rank(F.col("_rr"), F.col("_n"), 4).alias("r_q"),
        ntile_of_rank(F.col("_rf"), F.col("_n"), 4).alias("f_q"),
        ntile_of_rank(F.col("_rm"), F.col("_n"), 4).alias("m_q"),
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.round((F.sum("monetary")) * 100.0) / 100.0).alias("total_monetary"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


@q(
    "order_price_histogram",
    """
    WITH b AS (
      SELECT CAST(least(floor((o_totalprice - 0.0) / 25000.0), 19) AS INT)
               AS bucket
      FROM orders
    )
    SELECT bucket,
           round((bucket * 25000.0) * 10.0) / 10.0       AS lo,
           round(((bucket + 1) * 25000.0) * 10.0) / 10.0 AS hi,
           CAST(count(*) AS BIGINT)         AS n_orders
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (fixed $25k buckets, top bucket clamped) —
    the profiling complement to the equi-depth `segment_balance_deciles`
    (ntile) and the exact/approx quantile entries. Pure map-side floor
    arithmetic + a bucket-count shuffle bounded by bucket count, so
    the shape is scan-dominated at any volume."""
    orders = _t(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / 25000.0), F.lit(19)
    ).cast("int")
    return (
        orders.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .select(
            "bucket",
            (F.round((F.col("bucket") * 25000.0) * 10.0) / 10.0).alias("lo"),
            (F.round(((F.col("bucket") + 1) * 25000.0) * 10.0) / 10.0).alias("hi"),
            "n_orders",
        )
        .orderBy("bucket")
    )
