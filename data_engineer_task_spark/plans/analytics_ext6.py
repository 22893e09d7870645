"""Seventh-batch declared queries: point-in-time dimension joins and
information-theoretic association.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - point-in-time (PIT) join of the events fact against a VERSIONED
   dimension: each event sees the dimension row valid AT its event
   time, never the current one — the feature-store join that keeps
   training features leakage-free (joining current attributes onto
   historical events is the classic label-leakage bug)
 - mutual information between two categoricals (lang × source) — the
   information-theoretic sibling of the chi-square independence scan
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import _t, q


@q(
    "event_segment_pit_join",
    """
    WITH b AS (
      SELECT epoch_ns(min(ts)) // 1000 AS mn, epoch_ns(max(ts)) // 1000 AS mx
      FROM events
    ),
    dim AS (
      SELECT c_custkey AS k, c_mktsegment AS segment,
             b.mn - 1 AS vfrom_us,
             CASE WHEN c_custkey % 3 = 0 THEN b.mn + (b.mx - b.mn) // 2
                  ELSE b.mx + 1 END AS vto_us
      FROM customer, b
      UNION ALL
      SELECT c_custkey, 'SEG_' || CAST(c_custkey % 5 AS VARCHAR),
             b.mn + (b.mx - b.mn) // 2, b.mx + 1
      FROM customer, b WHERE c_custkey % 3 = 0
    ),
    e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events)
    SELECT d.segment, e.event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM e JOIN dim d
      ON e.user_id = d.k AND e.us >= d.vfrom_us AND e.us < d.vto_us
    GROUP BY d.segment, e.event_type ORDER BY d.segment, e.event_type
    """,
)
def event_segment_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: events enriched with the market segment
    that was valid AT the event's timestamp from an SCD2-style
    versioned dimension (built deterministically here: every third
    customer re-segments at the corpus midpoint, so each such key has
    two [from, to) validity windows). Joining the CURRENT dimension
    instead — what a naive enrichment does — would leak future
    attribute values into historical training rows; the PIT join is
    the feature-store primitive that prevents that. Plan shape: an
    equi-join on the key with the validity range as a residual filter
    — versions-per-key is small and bounded, so the join never
    degenerates toward a range-only (quadratic) match; at 100 TB both
    sides shuffle once on the key exactly like any big-big equi-join.
    Validity bounds are epoch-µs longs (timestamps never cross the
    oracle boundary raw)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    b = ev.agg(
        F.min("us").alias("mn"), F.max("us").alias("mx")
    )
    cust = _t(spark, sf_dir, "customer")
    mid = F.col("mn") + F.floor((F.col("mx") - F.col("mn")) / 2)
    v1 = cust.crossJoin(F.broadcast(b)).select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("segment"),
        (F.col("mn") - 1).alias("vfrom_us"),
        F.when(F.col("c_custkey") % 3 == 0, mid)
        .otherwise(F.col("mx") + 1)
        .alias("vto_us"),
    )
    v2 = (
        cust.where(F.col("c_custkey") % 3 == 0)
        .crossJoin(F.broadcast(b))
        .select(
            F.col("c_custkey").alias("k"),
            F.concat(
                F.lit("SEG_"), (F.col("c_custkey") % 5).cast("string")
            ).alias("segment"),
            mid.alias("vfrom_us"),
            (F.col("mx") + 1).alias("vto_us"),
        )
    )
    dim = v1.unionByName(v2)
    return (
        ev.join(
            dim,
            (ev.user_id == dim.k)
            & (ev.us >= dim.vfrom_us)
            & (ev.us < dim.vto_us),
        )
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("segment", "event_type")
    )


@q(
    "lang_source_mutual_info",
    """
    WITH cells AS (
      SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
    ),
    t AS (
      SELECT cells.*, sum(n) OVER () AS total,
             sum(n) OVER (PARTITION BY lang) AS n_lang,
             sum(n) OVER (PARTITION BY source) AS n_source
      FROM cells
    )
    SELECT lang, source, CAST(n AS BIGINT) AS n_docs,
           round((n * 1.0 / total)
                 * ln(n * 1.0 * total / (n_lang * 1.0 * n_source))
                 * 1000000.0) / 1000000.0 AS mi_term
    FROM t ORDER BY lang, source
    """,
)
def lang_source_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual-information decomposition of the lang × source
    association: each observed cell's term p(x,y)·ln(p(x,y)/(p(x)p(y)))
    — summing the column gives the mutual information I(lang; source),
    the information-theoretic sibling of `lang_source_chisq` (chi²
    tests independence; MI measures its strength in nats, the quantity
    corpus-balancing decisions actually want). Same scale shape as the
    chi-square entry: ONE fact aggregate collapses to the
    |lang|×|source|-bounded cell frame, marginals are windows over that
    tiny frame, never a second corpus scan. Absent cells contribute 0
    by the 0·ln(0) convention and stay absent; observed cells always
    have n ≥ 1, so the log argument is positive and ANSI-total."""
    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    t = cells.select(
        "lang",
        "source",
        "n",
        F.sum("n").over(W.partitionBy()).alias("total"),
        F.sum("n").over(W.partitionBy("lang")).alias("n_lang"),
        F.sum("n").over(W.partitionBy("source")).alias("n_source"),
    )
    mi = (F.col("n") * 1.0 / F.col("total")) * F.log(
        F.col("n") * 1.0 * F.col("total")
        / (F.col("n_lang") * 1.0 * F.col("n_source"))
    )
    return (
        t.select(
            "lang",
            "source",
            F.col("n").cast("long").alias("n_docs"),
            (F.round(mi * 1000000.0) / 1000000.0).alias("mi_term"),
        )
        .orderBy("lang", "source")
    )
