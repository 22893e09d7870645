"""Twenty-second-batch declared queries: corpus-level exact-substring
(segment) dedup — audit AND rewrite — canonical selection for near-dup
clusters, and an in-row token-entropy quality signal.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - duplicated-segment audit: fixed 10-token segments hashed corpus-wide
   (the fixed-window approximation of suffix-array exact-substring
   dedup, Lee et al. 2022) — per-source duplication stats
 - segment dedup rewrite: keep the FIRST corpus-wide occurrence of
   every segment and reassemble each document — the transform the
   audit justifies
 - near-dup keep-best: survivor selection per near-dup cluster by
   quality (longest doc wins) instead of min-id
 - token entropy: per-document unigram Shannon entropy, entirely
   in-row (the low-entropy gibberish/boilerplate tripwire)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import _SEG, _SEGMENT_CTE, _SHINGLE_CTE, _near_dup_tail, _t_wide, q


def _segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of _SEGMENT_CTE via the library operator
    ``operators/dedup.py::text_segments`` — one row per fixed
    10-token segment with md5 hash, entirely in-row."""
    from ..operators.dedup import text_segments

    docs = _t_wide(spark, sf_dir, "documents")
    return text_segments(
        docs, "doc_id", "text", seg=_SEG, keep_cols=("source",)
    )


@q(
    "corpus_dup_segment_audit",
    f"""
    WITH {_SEGMENT_CTE},
    marked AS (
      SELECT source, seg_len,
             min(doc_id) OVER (PARTITION BY seg_hash) AS lo,
             max(doc_id) OVER (PARTITION BY seg_hash) AS hi
      FROM segh
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN lo <> hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(sum(CASE WHEN lo <> hi THEN seg_len ELSE 0 END) AS BIGINT)
             AS shared_tokens,
           round((sum(CASE WHEN lo <> hi THEN 1 ELSE 0 END)
                  * 10000.0 / count(*))) / 10000.0 AS shared_frac
    FROM marked GROUP BY source ORDER BY source
    """,
)
def corpus_dup_segment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication audit (fixed-window approximation
    of Lee et al. 2022 suffix-array dedup): hash every non-overlapping
    10-token segment corpus-wide; a segment occurrence is SHARED when
    the same hash appears in at least one OTHER document (min(doc) ≠
    max(doc) over the hash partition — intra-doc repeats don't count).
    Per-source shared-token mass is the boilerplate/re-crawl signal
    that decides whether the rewrite stage below is worth running.
    Plan: in-row segmenting, then ONE shuffle — a window on seg_hash
    computing only min/max doc id (map-side combinable, no join-back,
    and the shuffle carries (hash, doc_id, source, len), never segment
    bodies). At 100 TB the hot keys are ubiquitous boilerplate
    segments; the window's min/max are cheap per-key and AQE's skew
    split applies — contrast with a count-distinct join-back, which
    would double the shuffle volume for the same verdict."""
    segs = _segments(spark, sf_dir)
    wh = W.partitionBy("seg_hash")
    marked = segs.select(
        "source",
        "seg_len",
        F.min("doc_id").over(wh).alias("lo"),
        F.max("doc_id").over(wh).alias("hi"),
    )
    shared = F.when(F.col("lo") != F.col("hi"), 1).otherwise(0)
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum(shared).cast("long").alias("n_shared"),
            F.sum(F.when(F.col("lo") != F.col("hi"), F.col("seg_len")).otherwise(0))
            .cast("long")
            .alias("shared_tokens"),
            (F.round(F.sum(shared) * 10000.0 / F.count(F.lit(1))) / 10000.0).alias(
                "shared_frac"
            ),
        )
        .orderBy("source")
    )


@q(
    "doc_segment_dedup_rewrite",
    f"""
    WITH {_SEGMENT_CTE},
    ranked AS (
      SELECT doc_id, seg_id, seg_text, seg_len,
             row_number() OVER (PARTITION BY seg_hash
                                ORDER BY doc_id, seg_id) AS rn
      FROM segh
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN rn = 1 THEN seg_len ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           md5(coalesce(string_agg(seg_text, ' ' ORDER BY seg_id)
                          FILTER (WHERE rn = 1), '')) AS rewritten_md5
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_segment_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REWRITE step exact-substring dedup exists for: keep only
    the first corpus-wide occurrence of every 10-token segment
    (ordered by (doc_id, seg_id) — ingestion order), reassemble each
    document from its surviving segments in position order, and emit
    kept/total counts plus an md5 checksum of the rewritten text (the
    checksum stands in for the text so the result frame stays narrow;
    a production run would write the text to the corpus sink instead).
    Fully-duplicated documents survive as rows with n_kept = 0 and
    md5('') — they exit the corpus. Plan: ONE window shuffle on
    seg_hash (row_number — this entry must move segment bodies through
    the shuffle because the rewrite needs them, but bodies are capped
    at 10 tokens each), then a per-doc aggregate whose order-by-seg_id
    reassembly is deterministic on both engines (array_sort over
    (seg_id, text) structs ↔ string_agg ORDER BY). At 100 TB this is
    the canonical two-pass dedup shape; the keep-first rule needs no
    global coordination beyond the hash partition itself."""
    from ..operators.dedup import segment_dedup_rewrite

    docs = _t_wide(spark, sf_dir, "documents")
    return (
        segment_dedup_rewrite(docs, "doc_id", "text", seg=_SEG)
        .select(
            "doc_id",
            "n_segments",
            "n_kept",
            "tokens_kept",
            F.md5("rewritten_text").alias("rewritten_md5"),
        )
        .orderBy("doc_id")
    )


@q(
    "near_dup_keep_best",
    f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    {_near_dup_tail(band_size=2, as_cte=True)},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs WHERE jaccard >= 0.5
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs WHERE jaccard >= 0.5
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    ),
    lab AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
    scored AS (
      SELECT l.cluster, l.node, d.n_chars,
             row_number() OVER (PARTITION BY l.cluster
                                ORDER BY d.n_chars DESC, l.node ASC) AS rn,
             CAST(count(*) OVER (PARTITION BY l.cluster) AS BIGINT)
               AS n_docs,
             CAST(sum(d.n_chars) OVER (PARTITION BY l.cluster) AS BIGINT)
               AS total_chars
      FROM lab l JOIN documents d ON d.doc_id = l.node
    )
    SELECT cluster, node AS keeper_id,
           CAST(n_chars AS BIGINT) AS keeper_chars, n_docs,
           CAST(total_chars - n_chars AS BIGINT) AS dropped_chars
    FROM scored WHERE rn = 1 ORDER BY cluster
    """,
)
def near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection by QUALITY: within each near-dup cluster
    (same MinHash→LSH→verify→connected-components chain as
    near_dup_clusters, jaccard ≥ 0.5) keep the LONGEST member
    (n_chars DESC, doc_id ASC tie-break) instead of the min-id — the
    rule real curation uses, since the longest near-duplicate is
    usually the un-truncated original. Emits the keeper plus how many
    docs/chars the cluster drops. Plan: cluster labels join the
    documents quality column on doc_id (an id-partitioned shuffle
    join — at 100 TB both sides are big, but labels only exist for
    clustered docs, a tiny fraction of the corpus), then one window
    pass on cluster for the deterministic argmax + size/mass. Any
    scalar quality score (model-based, fasttext, etc.) slots into the
    ORDER BY without touching the plan shape."""
    from ..operators.dedup import near_duplicates
    from ..operators.graph import connected_components

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3, band_size=2,
        threshold=0.5,
    )
    labels = connected_components(pairs.select("id_a", "id_b"))
    scored = labels.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    wc = W.partitionBy("cluster")
    ranked = scored.select(
        "cluster",
        "node",
        "n_chars",
        F.row_number()
        .over(wc.orderBy(F.col("n_chars").desc(), F.col("node").asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n_docs"),
        F.sum("n_chars").over(wc).cast("long").alias("total_chars"),
    )
    return (
        ranked.where(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("node").alias("keeper_id"),
            F.col("n_chars").cast("long").alias("keeper_chars"),
            "n_docs",
            (F.col("total_chars") - F.col("n_chars"))
            .cast("long")
            .alias("dropped_chars"),
        )
        .orderBy("cluster")
    )


@q(
    "doc_token_entropy",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    c AS (
      SELECT doc_id, len(l) AS n,
             list_transform(
               list_sort(list_distinct(l)),
               x -> CAST(len(list_filter(l, tk -> tk = x)) AS DOUBLE)) AS cnts
      FROM t
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(len(cnts) AS BIGINT) AS n_distinct,
           round((log2(CAST(n AS DOUBLE))
                  - list_reduce(list_transform(cnts, cc -> cc * log2(cc)),
                                (a, b) -> a + b) / n) * 10000.0) / 10000.0
             AS entropy_bits
    FROM c ORDER BY doc_id
    """,
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy per document — the low-entropy tripwire
    (keyword stuffing, repeated boilerplate, template spam score near
    0 bits; natural prose sits near log2 of vocabulary). Uses the
    identity H = log2(n) − (Σ c·log2 c)/n over raw counts so no
    per-term division occurs. ENTIRELY in-row: distinct tokens via
    array_distinct, counts via nested filter (O(n·distinct) per row,
    bounded by doc length — the map-only shape a 100 TB quality
    pre-filter must have; zero shuffle before the output sort). Float
    discipline per CLAUDE.md: the Σ c·log2 c term folds left over the
    SORTED distinct-token list on both engines (F.aggregate ↔
    list_reduce), so the fp addition sequence is identical and the
    display round can't flip."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    cnts = F.transform(
        F.array_sort(F.array_distinct(toks)),
        lambda x: F.size(F.filter(toks, lambda tk: tk == x)).cast("double"),
    )
    c = docs.select(
        "doc_id", F.size(toks).alias("n"), cnts.alias("cnts")
    )
    ent = (
        F.log2(F.col("n").cast("double"))
        - F.aggregate(
            F.transform(F.col("cnts"), lambda cc: cc * F.log2(cc)),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        / F.col("n")
    )
    return c.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.size("cnts").cast("long").alias("n_distinct"),
        (F.round(ent * 10000.0) / 10000.0).alias("entropy_bits"),
    ).orderBy("doc_id")
