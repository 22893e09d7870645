"""Fifth-batch declared queries: exact similarity joins and
distribution-shape profiling.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.
Surface added here:

 - sparse TF-IDF cosine pair join via the inverted-index decomposition
   (the EXACT text-similarity counterpart of the embedding ANN family —
   pairs come from a posting-list self-join, never doc×doc)
 - exact shingle-Jaccard similarity join with PPJoin-style prefix
   filtering (no-false-negative counterpart of the MinHash/LSH
   near-dup family; the oracle is the brute inverted-index form, so
   equality proves the prefix filter lossless)
 - 2-D skyline / Pareto frontier (window form vs the oracle's O(n²)
   NOT EXISTS dominance test)
 - Benford leading-digit profiling (fraud/data-quality screen on
   order totals)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import _SHINGLE_CTE, _t, _t_wide, q


@q(
    "doc_tfidf_cosine_pairs",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
    dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n FROM documents),
    w AS (
      SELECT tf.doc_id, tf.token,
             CAST(round(tf.tf * (ln((n.n + 1.0) / (dfq.df + 1.0)) + 1.0)
                        * 1000.0) AS BIGINT) AS w
      FROM tf, dfq, n WHERE tf.token = dfq.token AND dfq.df <= n.n * 0.2
    ),
    nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY doc_id),
    dot AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    c AS (
      SELECT doc_a, doc_b,
             round(CAST(dot AS DOUBLE) * 10000.0
                   / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)))
               / 10000.0 AS cos_sim
      FROM dot JOIN nrm x ON doc_a = x.doc_id JOIN nrm y ON doc_b = y.doc_id
    )
    SELECT doc_a, doc_b, cos_sim FROM c WHERE cos_sim >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def doc_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join over the corpus — the
    inverted-index decomposition (posting-list self-join on term +
    grouped dot sum), with df-fraction pruning capping both the idf
    noise floor and the quadratic stopword join cost. See
    ``operators/text.py::tfidf_cosine_pairs`` for the scale analysis."""
    from ..operators.text import tfidf_cosine_pairs

    docs = _t_wide(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(
        docs, "doc_id", "text", threshold=0.5, max_df_frac=0.2
    ).orderBy("doc_a", "doc_b")


@q(
    "doc_jaccard_join_exact",
    f"""
    WITH {_SHINGLE_CTE},
    s AS (SELECT DISTINCT doc_id, shingle FROM shf),
    sizes AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    j AS (
      SELECT id_a, id_b, CAST(ni AS BIGINT) AS n_common,
             round(ni * 10000.0 / (za.n + zb.n - ni)) / 10000.0 AS jaccard,
             ni * 1.0 / (za.n + zb.n - ni) AS true_jac
      FROM inter
      JOIN sizes za ON id_a = za.doc_id
      JOIN sizes zb ON id_b = zb.doc_id
    )
    SELECT id_a, id_b, n_common, jaccard FROM j WHERE true_jac >= 0.5
    ORDER BY id_a, id_b
    """,
)
def doc_jaccard_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-Jaccard similarity join (threshold 0.5) via
    PPJoin-style prefix filtering — candidates from rare-first prefix
    overlap, then in-row verification. The oracle is the unpruned
    brute inverted-index form: hash equality proves the prefix filter
    drops no qualifying pair (the guarantee MinHash/LSH trades away).
    See ``operators/dedup.py::jaccard_join_exact``."""
    from ..operators.dedup import jaccard_join_exact

    docs = _t_wide(spark, sf_dir, "documents")
    return jaccard_join_exact(
        docs, "doc_id", "text", threshold=0.5, shingle_k=3
    ).orderBy("id_a", "id_b")


@q(
    "part_skyline_frontier",
    """
    SELECT x.p_partkey, x.p_size, x.p_retailprice
    FROM part x
    WHERE NOT EXISTS (
      SELECT 1 FROM part y
      WHERE y.p_size >= x.p_size AND y.p_retailprice <= x.p_retailprice
        AND (y.p_size > x.p_size OR y.p_retailprice < x.p_retailprice)
    )
    ORDER BY x.p_size DESC, x.p_partkey
    """,
)
def part_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (maximize size, minimize price). The oracle spells the O(n²)
    NOT EXISTS dominance test; the engine runs the O(n log n) sweep —
    collapse to per-size best price (one bounded-domain aggregate),
    then a running min over strictly-larger sizes decides survival,
    and a broadcast join back recovers the winning part rows (ties on
    (size, price) all survive, matching strict dominance). The global
    window orders only the per-size frame (|distinct sizes| rows —
    domain-bounded), never the fact."""
    part = _t(spark, sf_dir, "part")
    per_size = part.groupBy("p_size").agg(
        F.min("p_retailprice").alias("_bp")
    )
    w = W.orderBy(F.desc("p_size")).rowsBetween(W.unboundedPreceding, -1)
    front = (
        per_size.select(
            F.col("p_size").alias("_sz"),
            "_bp",
            F.min("_bp").over(w).alias("_min_larger"),
        )
        .where(F.col("_min_larger").isNull() | (F.col("_bp") < F.col("_min_larger")))
        .select("_sz", "_bp")
    )
    return (
        part.join(
            F.broadcast(front),
            (part.p_size == front._sz) & (part.p_retailprice == front._bp),
        )
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy(F.desc("p_size"), "p_partkey")
    )


@q(
    "order_price_benford",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    t AS (SELECT digit, n, sum(n) OVER () AS total FROM c)
    SELECT digit, CAST(n AS BIGINT) AS n_orders,
           round(n * 10000.0 / total) / 10000.0 AS obs_pct,
           round(log10(1 + 1.0 / digit) * 10000.0) / 10000.0 AS benford_pct,
           round(abs(n * 1.0 / total - log10(1 + 1.0 / digit)) * 10000.0)
             / 10000.0 AS abs_dev
    FROM t ORDER BY digit
    """,
)
def order_price_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law leading-digit profile of order totals — the
    classic fabricated-data / unit-mixing screen. Map-only digit
    extraction, a 9-bucket aggregate, and a 9-row window for the
    total: nothing but the partial counts ever cross the shuffle, so
    the screen is one fact scan at any scale.

    DETERMINISM (r3 transcendental audit): the digit — a GROUP KEY —
    derives from the leading character of the exact cents BIGINT
    (prices are cents-quantized at the source, and multiplying by 100
    never changes the leading digit of a positive value), NOT from
    floor(log10(x)): exact powers of 10 ARE reachable prices
    (10.00, 100.00, …), their true log10 is exactly integer, and a
    libm returning 1 ulp low would flip floor() — digit 1 becoming
    digit 9 — differently per engine. The remaining log10 feeds only
    the display-rounded theoretical-share columns, where the true
    values are transcendental (never exactly on a grid boundary)."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    counts = orders.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = F.sum("n").over(W.partitionBy())
    ben = F.log10(F.lit(1) + F.lit(1.0) / F.col("digit"))
    return (
        counts.select(
            "digit",
            F.col("n").cast("long").alias("n_orders"),
            (F.round(F.col("n") * 10000.0 / total) / 10000.0).alias("obs_pct"),
            (F.round(ben * 10000.0) / 10000.0).alias("benford_pct"),
            (
                F.round(F.abs(F.col("n") * 1.0 / total - ben) * 10000.0)
                / 10000.0
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )
