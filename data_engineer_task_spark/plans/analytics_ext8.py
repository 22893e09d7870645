"""Ninth-batch declared queries: IR ranking, attribution, graph
centrality, seasonal anomaly detection, conversion latency, and
triangle counting.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - BM25 keyword search (the lexical-retrieval scorer RAG pipelines
   pair with the embedding ANN entries)
 - last-touch marketing attribution (windowed carry-forward of the
   most recent prior touchpoint per user)
 - PageRank with a fixed unrolled iteration count over the brand
   co-purchase graph (power iteration expressed relationally)
 - day-of-week seasonal decomposition + median/MAD anomalies (the
   seasonality-aware sibling of `event_value_anomalies`)
 - signup→purchase conversion latency percentiles
 - triangle counting / graph clustering structure (the co-occurrence
   graph's densest primitive beyond connected components)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import _t, _t_wide, q
from ..sources.catalog import gated_broadcast


@q(
    "doc_bm25_search",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      FROM toks GROUP BY doc_id, token
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl
    ),
    df AS (
      SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token
    ),
    qterms AS (
      SELECT token, df FROM df ORDER BY df DESC, token ASC LIMIT 3
    ),
    scored AS (
      SELECT tf.doc_id,
             sum(ln(1.0 + (s.n - q.df + 0.5) / (q.df + 0.5))
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))) AS score,
             CAST(count(*) AS BIGINT) AS n_terms_hit
      FROM tf
      JOIN qterms q ON q.token = tf.token
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, n_terms_hit,
           round(score * 1000000.0) / 1000000.0 AS bm25
    FROM scored
    ORDER BY round(score * 1000000.0) / 1000000.0 DESC, doc_id ASC
    LIMIT 20
    """,
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (k1=1.2, b=0.75): score every document
    against a deterministic 3-term query (the corpus's three
    highest-df tokens — data-derived so the entry is scale-portable)
    and return the top 20. This is the sparse-retrieval half of a RAG
    stack next to `embedding_cosine_topk`. Scale shape: tf is one
    (doc, token) aggregate; df and doc-length are its two marginals;
    the 3-row query set broadcasts onto tf, so scoring touches only
    postings of query terms — exactly an inverted-index probe, never
    a corpus scan per query. Ordering uses the ROUNDED score (then
    doc_id) so both engines pick identical top-20 rows despite
    summation-order noise in the ≤3-term score sum."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    qterms = df.orderBy(F.desc("df"), F.asc("token")).limit(3)
    idf = F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term_score = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(qterms), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(term_score).alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
    )
    bm25 = F.round(F.col("score") * 1000000.0) / 1000000.0
    return (
        scored.orderBy(bm25.desc(), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "n_terms_hit", bm25.alias("bm25"))
    )


@q(
    "purchase_attribution_last_touch",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
      FROM events
    ),
    attr AS (
      SELECT e.*,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel,
             last_value(CASE WHEN event_type <> 'purchase' THEN us END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_us
      FROM e
    )
    SELECT coalesce(channel, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(avg((us - touch_us) / 1000000.0) * 1000.0) / 1000.0
             AS avg_latency_s
    FROM attr WHERE event_type = 'purchase'
    GROUP BY coalesce(channel, 'direct') ORDER BY channel
    """,
)
def purchase_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credits the user's most
    recent PRIOR non-purchase event (click/view/signup/error), or
    'direct' when the purchase is the user's first event — the
    standard marketing-attribution readout. One carry-forward window
    per user (ordered by time with event_id as the total-order
    tie-break, frame excludes the current row so a purchase never
    attributes to itself) — a single user-key shuffle over the fact
    table, the same LOCF machinery as `user_event_locf_fill`; at
    100 TB user partitions are naturally small and skew-free.
    Latency averages only the attributed purchases (NULL for
    'direct' rows drops out of avg in both engines)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.asc("us"), F.asc("event_id"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    nonp = F.col("event_type") != "purchase"
    attr = ev.select(
        "event_type",
        "us",
        F.last(F.when(nonp, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("channel"),
        F.last(F.when(nonp, F.col("us")), ignorenulls=True)
        .over(w)
        .alias("touch_us"),
    )
    return (
        attr.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            (
                F.round(
                    F.avg((F.col("us") - F.col("touch_us")) / 1000000.0) * 1000.0
                )
                / 1000.0
            ).alias("avg_latency_s"),
        )
        .orderBy("channel")
    )


_PR_SQL_GRAPH = """
    ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    nodes AS (SELECT DISTINCT p_brand AS brand FROM ob),
    cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    pairs AS (
      SELECT a.p_brand AS b1, b.p_brand AS b2, CAST(count(*) AS DOUBLE) AS np
      FROM ob a JOIN ob b ON b.l_orderkey = a.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY a.p_brand, b.p_brand
    ),
    edges AS (
      SELECT b1 AS src, b2 AS dst, np FROM pairs
      UNION ALL
      SELECT b2 AS src, b1 AS dst, np FROM pairs
    )
"""


def _pr_iter_sql(prev: str, name: str) -> str:
    return f"""
    {name} AS (
      SELECT nd.brand, 0.15 / cnt.n + 0.85 * coalesce(s.inflow, 0.0) AS pr
      FROM nodes nd CROSS JOIN cnt
      LEFT JOIN (
        SELECT ew.dst, sum(ew.w * {prev}.pr) AS inflow
        FROM ew JOIN {prev} ON {prev}.brand = ew.src
        GROUP BY ew.dst
      ) s ON s.dst = nd.brand
    )"""


@q(
    "brand_copurchase_pagerank",
    f"""
    WITH {_PR_SQL_GRAPH},
    deg AS (SELECT src, sum(np) AS deg FROM edges GROUP BY src),
    ew AS (
      SELECT e.src, e.dst, e.np / d.deg AS w
      FROM edges e JOIN deg d ON d.src = e.src
    ),
    r0 AS (SELECT brand, 1.0 / cnt.n AS pr FROM nodes, cnt),
    {_pr_iter_sql("r0", "r1")},
    {_pr_iter_sql("r1", "r2")},
    {_pr_iter_sql("r2", "r3")}
    SELECT brand, round(pr * 1000000.0) / 1000000.0 AS pagerank
    FROM r3 ORDER BY brand
    """,
)
def brand_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85) on the brand co-purchase graph
    after exactly 3 power iterations from the uniform vector — the
    fixed-iteration unrolling that makes an 'iterative' graph
    algorithm a plain relational program (each iteration is one
    edges⋈ranks join + a per-node sum; the oracle spells the same
    three unrolled CTEs). Edge weights are co-purchase counts,
    row-normalized into a transition matrix. The rank vector is
    |brands|-sized — it BROADCASTS onto the edge list each iteration,
    so at 100 TB only the one-time pair count shuffles the fact
    table; iterating costs |edges|-sized joins. Output is ordered by
    brand (never by the float), so fp summation-order noise stays in
    the rounded payload."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(gated_broadcast(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    nodes = ob.select(F.col("p_brand").alias("brand")).distinct()
    cnt = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    a = ob.select("l_orderkey", F.col("p_brand").alias("b1"))
    b = ob.select(
        F.col("l_orderkey").alias("lo2"), F.col("p_brand").alias("b2")
    )
    pairs = (
        a.join(b, (a.l_orderkey == b.lo2) & (F.col("b1") < F.col("b2")))
        .groupBy("b1", "b2")
        .agg(F.count(F.lit(1)).cast("double").alias("np"))
    )
    edges = pairs.select(
        F.col("b1").alias("src"), F.col("b2").alias("dst"), "np"
    ).unionByName(
        pairs.select(F.col("b2").alias("src"), F.col("b1").alias("dst"), "np")
    )
    deg = edges.groupBy("src").agg(F.sum("np").alias("deg"))
    ew = edges.join(deg, "src").select(
        "src", "dst", (F.col("np") / F.col("deg")).alias("w")
    )
    base = nodes.crossJoin(F.broadcast(cnt))
    r = base.select("brand", (F.lit(1.0) / F.col("n")).alias("pr"))
    for _ in range(3):
        inflow = (
            ew.join(
                F.broadcast(r.select(F.col("brand").alias("src"), "pr")), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("w") * F.col("pr")).alias("inflow"))
        )
        r = (
            base.join(
                F.broadcast(inflow.withColumnRenamed("dst", "brand")),
                "brand",
                "left",
            )
            .select(
                "brand",
                (
                    0.15 / F.col("n")
                    + 0.85 * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return r.select(
        "brand", (F.round(F.col("pr") * 1000000.0) / 1000000.0).alias("pagerank")
    ).orderBy("brand")


@q(
    "event_dow_seasonal_anomalies",
    """
    WITH e AS (
      SELECT event_type, value,
             CAST((epoch_ns(ts) // 1000 // 86400000000 + 3) % 7 AS INT) AS dow
      FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT event_type, dow, quantile_cont(value, 0.5) AS med
      FROM e GROUP BY event_type, dow
    ),
    dev AS (
      SELECT e.event_type, e.dow, e.value, abs(e.value - m.med) AS adev, m.med
      FROM e JOIN med m ON m.event_type = e.event_type AND m.dow = e.dow
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type, d.dow, CAST(count(*) AS BIGINT) AS n_events,
           round(max(d.med) * 1000.0) / 1000.0 AS dow_median,
           CAST(sum(CASE WHEN d.adev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies
    FROM dev d JOIN mad ON mad.event_type = d.event_type
    GROUP BY d.event_type, d.dow
    ORDER BY d.event_type, d.dow
    """,
)
def event_dow_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware robust anomaly detection: values are
    deseasonalized against their (type, day-of-week) median, then
    flagged when the absolute deviation exceeds 3× the type-level MAD
    of those deviations — the weekly-pattern-aware sibling of
    `event_value_anomalies` (which a strong weekend/weekday cycle
    would fool). Medians/MADs are exact order statistics (identical
    in both engines — no mean/stddev summation-order noise deciding
    membership), and day-of-week derives from integer epoch-day
    arithmetic ((days+3) mod 7, Monday=0) so no timezone/calendar
    library is consulted. Two grouped percentiles with tiny stat
    frames broadcast back; at 100 TB swap `percentile` for
    `percentile_approx`."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .select(
            "event_type",
            "value",
            # exact integer day number: subtract the remainder before
            # dividing so the double division is exact (no floor-of-
            # float boundary risk vs the oracle's integer //)
            (
                (
                    (
                        (F.col("us") - F.col("us") % 86400000000) / 86400000000
                    ).cast("long")
                    + 3
                )
                % 7
            )
            .cast("int")
            .alias("dow"),
        )
    )
    med = ev.groupBy("event_type", "dow").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), ["event_type", "dow"]).withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.round(F.max("med") * 1000.0) / 1000.0).alias("dow_median"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalies"),
        )
        .orderBy("event_type", "dow")
    )


@q(
    "signup_purchase_latency",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events
    ),
    s AS (
      SELECT user_id, min(CASE WHEN event_type = 'signup' THEN us END) AS s_us
      FROM e GROUP BY user_id
    ),
    conv AS (
      SELECT s.user_id, s.s_us, min(e.us) AS p_us
      FROM s JOIN e ON e.user_id = s.user_id
       AND e.event_type = 'purchase' AND e.us > s.s_us
      WHERE s.s_us IS NOT NULL
      GROUP BY s.user_id, s.s_us
    ),
    lat AS (SELECT (p_us - s_us) / 1000000.0 AS lat_s FROM conv)
    SELECT
      (SELECT CAST(count(s_us) AS BIGINT) FROM s) AS n_signup_users,
      CAST(count(*) AS BIGINT) AS n_converted,
      round(count(*) * 1.0
            / nullif((SELECT count(s_us) FROM s), 0) * 1000000.0)
        / 1000000.0 AS conv_rate,
      round(quantile_cont(lat_s, 0.25) * 1000.0) / 1000.0 AS p25_s,
      round(quantile_cont(lat_s, 0.5) * 1000.0) / 1000.0 AS p50_s,
      round(quantile_cont(lat_s, 0.75) * 1000.0) / 1000.0 AS p75_s,
      round(quantile_cont(lat_s, 0.9) * 1000.0) / 1000.0 AS p90_s
    FROM lat
    """,
)
def signup_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for every user whose first
    'signup' precedes a 'purchase', the seconds from first signup to
    first subsequent purchase, summarized as exact p25/50/75/90 plus
    the conversion rate over all signed-up users — the time-to-convert
    readout that complements `user_funnel_counts` (which counts
    stages but not their latency). Strict `us > s_us` keeps the stage
    ordering engine-identical. Two per-user aggregates (one key
    shuffle each, map-side combined) collapse to one summary row;
    latencies are exact integer-µs differences, so the percentile
    interpolation arithmetic is bit-identical before rounding."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("us"))).alias("s_us")
    )
    n_signup = s.agg(F.count("s_us").cast("double").alias("ns"))
    conv = (
        s.where(F.col("s_us").isNotNull())
        .join(ev.where(F.col("event_type") == "purchase"), "user_id")
        .where(F.col("us") > F.col("s_us"))
        .groupBy("user_id", "s_us")
        .agg(F.min("us").alias("p_us"))
        .select(((F.col("p_us") - F.col("s_us")) / 1000000.0).alias("lat_s"))
    )
    r3 = lambda c: F.round(c * 1000.0) / 1000.0  # noqa: E731
    return (
        conv.agg(
            F.count(F.lit(1)).cast("double").alias("nc"),
            F.percentile("lat_s", F.lit(0.25)).alias("q25"),
            F.percentile("lat_s", F.lit(0.5)).alias("q50"),
            F.percentile("lat_s", F.lit(0.75)).alias("q75"),
            F.percentile("lat_s", F.lit(0.9)).alias("q90"),
        )
        .crossJoin(F.broadcast(n_signup))
        .select(
            F.col("ns").cast("long").alias("n_signup_users"),
            F.col("nc").cast("long").alias("n_converted"),
            (
                F.round(
                    F.col("nc") / F.nullif(F.col("ns"), F.lit(0.0)) * 1000000.0
                )
                / 1000000.0
            ).alias("conv_rate"),
            r3(F.col("q25")).alias("p25_s"),
            r3(F.col("q50")).alias("p50_s"),
            r3(F.col("q75")).alias("p75_s"),
            r3(F.col("q90")).alias("p90_s"),
        )
    )


@q(
    "brand_copurchase_triangles",
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
    ),
    edges AS (
      SELECT b1, b2 FROM pairs, nord
      JOIN bc c1 ON c1.p_brand = pairs.b1
      JOIN bc c2 ON c2.p_brand = pairs.b2
      WHERE np * nord.n / (c1.nb * c2.nb) > 1.0
    ),
    tri AS (
      SELECT e1.b1 AS a, e1.b2 AS b, e2.b2 AS c
      FROM edges e1
      JOIN edges e2 ON e2.b1 = e1.b2
      JOIN edges e3 ON e3.b1 = e1.b1 AND e3.b2 = e2.b2
    ),
    corners AS (
      SELECT a AS brand FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    degs AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT b1 AS brand FROM edges UNION ALL SELECT b2 FROM edges)
      GROUP BY brand
    )
    SELECT d.brand, d.degree,
           CAST(coalesce(t.n, 0) AS BIGINT) AS n_triangles
    FROM degs d
    LEFT JOIN (SELECT brand, count(*) AS n FROM corners GROUP BY brand) t
      ON t.brand = d.brand
    ORDER BY d.brand
    """,
)
def brand_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the lift-filtered brand co-purchase graph
    (edges kept only when observed co-purchase exceeds the
    independence expectation, lift > 1): per-brand degree and the
    number of triangles each brand participates in — the local
    clustering structure that connected components can't see, and
    the classic distributed-graph benchmark op. Enumeration uses the
    a<b<c orientation (each triangle counted once) as two
    edge-list self-joins; the lift predicate is a single fp
    expression over exact counts, so edge membership is bit-identical
    across engines. At 100 TB the same plan holds with edges
    pre-partitioned by key — fan-out is bounded by the heavy-hitter
    degree, which the lift filter itself suppresses (high-df nodes
    rarely beat independence)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(gated_broadcast(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    nord = ob.agg(F.countDistinct("l_orderkey").cast("double").alias("n"))
    bc = ob.groupBy("p_brand").agg(F.count(F.lit(1)).cast("double").alias("nb"))
    a = ob.select("l_orderkey", F.col("p_brand").alias("b1"))
    b = ob.select(F.col("l_orderkey").alias("lo2"), F.col("p_brand").alias("b2"))
    pairs = (
        a.join(b, (a.l_orderkey == b.lo2) & (F.col("b1") < F.col("b2")))
        .groupBy("b1", "b2")
        .agg(F.count(F.lit(1)).cast("double").alias("np"))
    )
    c1 = bc.select(F.col("p_brand").alias("b1"), F.col("nb").alias("nb1"))
    c2 = bc.select(F.col("p_brand").alias("b2"), F.col("nb").alias("nb2"))
    edges = (
        pairs.crossJoin(F.broadcast(nord))
        .join(F.broadcast(c1), "b1")
        .join(F.broadcast(c2), "b2")
        .where(F.col("np") * F.col("n") / (F.col("nb1") * F.col("nb2")) > 1.0)
        .select("b1", "b2")
    )
    e1 = edges.select(F.col("b1").alias("a"), F.col("b2").alias("b"))
    e2 = edges.select(F.col("b1").alias("b"), F.col("b2").alias("c"))
    e3 = edges.select(F.col("b1").alias("a2"), F.col("b2").alias("c2"))
    tri = e1.join(e2, "b").join(
        e3, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2"))
    )
    corners = (
        tri.select(F.col("a").alias("brand"))
        .unionByName(tri.select(F.col("b").alias("brand")))
        .unionByName(tri.select(F.col("c").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    degs = (
        edges.select(F.col("b1").alias("brand"))
        .unionByName(edges.select(F.col("b2").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return (
        degs.join(F.broadcast(corners), "brand", "left")
        .select(
            "brand",
            "degree",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_triangles"),
        )
        .orderBy("brand")
    )
