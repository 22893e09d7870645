"""Twentieth-batch declared queries: the operations a training-data
pipeline runs BETWEEN curation and the trainer — incremental dedup
against an existing corpus, data-mixture weighting, shard assignment,
curriculum binning, matryoshka embedding truncation, and the SRM
experiment guardrail.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.

 - incremental near-dup: new batch vs existing corpus via banded
   signature matching (the shape a self-join can't express; the
   corpus band table amortizes across batches)
 - temperature-scaled source mixture weights (the w_s ∝ n_s^τ rule
   used to balance heterogeneous sources in LLM pretraining mixes)
 - deterministic shard assignment with balance audit (salted md5,
   rand()-free — the write-side fan-out for training shards)
 - curriculum quality buckets (exact-integer lexical-diversity score,
   ntile quintiles over a total order)
 - matryoshka truncation quality (squared-norm fraction retained in a
   dim prefix — the measurement behind MRL-style dim reduction)
 - sample-ratio-mismatch chi-square (the assignment-health guardrail
   every A/B readout must pass before its lift means anything)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.sampling import _md5_byte0
from .registry import (
    _AB_VARIANT_SQL,
    _MINHASH_MINS,
    _SHINGLE_CTE,
    _hex_int_sql,
    _t,
    _t_wide,
    q,
)

_BAND_CASE = " ".join(
    f"WHEN {b} THEN md5(mh_{2 * b} || '|' || mh_{2 * b + 1})" for b in range(4)
)


@q(
    "incremental_near_dup",
    f"""
    WITH {_SHINGLE_CTE},
    sig AS (
      SELECT doc_id,
           {_MINHASH_MINS}
      FROM shf GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, bb.band,
             CASE bb.band {_BAND_CASE} END AS band_val
      FROM sig, (VALUES (0), (1), (2), (3)) bb(band)
    ),
    m AS (
      SELECT DISTINCT q.doc_id AS id_q, c.doc_id AS id_c
      FROM bands q JOIN bands c
        ON c.band = q.band AND c.band_val = q.band_val
      WHERE c.doc_id % 2 = 0 AND q.doc_id % 2 = 1
    )
    SELECT id_q AS doc_id,
           CAST(count(*) AS BIGINT) AS n_corpus_matches,
           CAST(min(id_c) AS BIGINT) AS first_match_id
    FROM m GROUP BY id_q ORDER BY doc_id
    """,
)
def incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new-batch-vs-corpus) near-dup detection: even
    doc_ids play the already-ingested corpus, odd ids the incoming
    batch; each batch doc reports how many corpus docs it shares an
    LSH band bucket with and its first (min-id) corpus partner — the
    rows a crawl pipeline would route to verification/drop. Uses
    ``operators/dedup.py::lsh_match_against``: the corpus is banded
    once (at real scale: a persisted band table that successive
    batches reuse — each increment shuffles only the batch, never
    re-scans the corpus), and candidates stay bucket-bounded exactly
    like the self-join family."""
    from ..operators.dedup import lsh_match_against, minhash_signatures

    docs = _t_wide(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    sig_c = minhash_signatures(corpus, "doc_id", "text", n_hashes=8, shingle_k=3)
    sig_q = minhash_signatures(batch, "doc_id", "text", n_hashes=8, shingle_k=3)
    m = lsh_match_against(sig_c, sig_q, "doc_id", n_hashes=8, band_size=2)
    return (
        m.groupBy(F.col("id_q").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_corpus_matches"),
            F.min("id_c").cast("long").alias("first_match_id"),
        )
        .orderBy("doc_id")
    )


@q(
    "corpus_mixture_weights",
    """
    WITH s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    folded AS (
      SELECT list(struct_pack(source := source, n_docs := n_docs,
                              n_tokens := n_tokens) ORDER BY source) AS rows,
             list_reduce(list_transform(
               list(CAST(n_tokens AS DOUBLE) ORDER BY source),
               x -> pow(x, 0.7)), (a, b) -> a + b) AS tot
      FROM s
    ),
    w AS (
      SELECT u.source, u.n_docs, u.n_tokens,
             pow(u.n_tokens, 0.7) AS raw, f.tot
      FROM folded f, (SELECT unnest(rows, recursive := true) FROM folded) u(source, n_docs, n_tokens)
    )
    SELECT source, n_docs, n_tokens,
           round((raw / tot) * 1000000.0) / 1000000.0 AS weight,
           round((raw / tot * 1000000.0 / n_tokens) * 10000.0) / 10000.0
             AS epochs_at_1m
    FROM w ORDER BY source
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixture weights: w_s ∝ n_s^τ (τ=0.7)
    over per-source token counts — the standard rule for balancing
    heterogeneous sources in a pretraining mix (τ=1 is proportional,
    τ→0 uniform; 0.7 upweights small sources without drowning large
    ones). ``epochs_at_1m`` = how many times a source repeats when
    sampling a 1M-token budget at those weights — epochs > ~4 is the
    overfitting tripwire. One map-side-combinable aggregate over the
    corpus → a |sources|-row frame. Float discipline (code-review r2
    catch): the normalizer Σ pow(n_s, 0.7) folds IN-ROW over a
    source-ordered list (`F.aggregate` ↔ DuckDB `list_reduce`, both
    left folds) — a cross-row window SUM's accumulation order is
    partition-dependent and can flip a display digit run-to-run
    (CLAUDE.md's EWMA lesson); pow() over exact integer counts is
    bit-identical in both engines, so the fold is too."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), r"\Q \E")))
        .cast("long")
        .alias("n_tokens"),
    )
    folded = s.agg(
        F.array_sort(
            F.collect_list(F.struct("source", "n_docs", "n_tokens"))
        ).alias("rows")
    ).select(
        "rows",
        F.aggregate(
            F.transform("rows", lambda x: F.pow(x["n_tokens"].cast("double"), 0.7)),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("tot"),
    )
    w = folded.select(F.explode("rows").alias("r"), "tot").select(
        F.col("r.source").alias("source"),
        F.col("r.n_docs").alias("n_docs"),
        F.col("r.n_tokens").alias("n_tokens"),
        F.pow(F.col("r.n_tokens"), 0.7).alias("raw"),
        "tot",
    )
    return w.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.round((F.col("raw") / F.col("tot")) * 1000000.0) / 1000000.0).alias(
            "weight"
        ),
        (
            F.round(
                (F.col("raw") / F.col("tot") * 1000000.0 / F.col("n_tokens"))
                * 10000.0
            )
            / 10000.0
        ).alias("epochs_at_1m"),
    ).orderBy("source")


@q(
    "doc_shard_assignment",
    f"""
    WITH a AS (
      SELECT doc_id, n_chars,
             {_hex_int_sql("md5('shard:' || CAST(doc_id AS VARCHAR))", 2)} % 8 AS shard
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id,
           round((count(*) * 8.0 / sum(count(*)) OVER ()) * 10000.0) / 10000.0
             AS balance_ratio
    FROM a GROUP BY shard ORDER BY shard
    """,
)
def doc_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment: salted md5 of doc_id →
    shard in [0,8), with a per-shard balance audit (balance_ratio =
    n_docs / ideal; 1.0 ± a few % is healthy). rand()-free and engine-
    portable, so shard membership is reproducible across reruns and
    engines — the property that makes shard-level resume/debugging
    possible; the 'shard:' salt keeps assignment independent of every
    other sampling operator (composed-operator correlation is the
    classic unsalted-hash bug). Map-only until the audit aggregate; the
    write side would ``partitionBy(shard)`` with this same column."""
    docs = _t(spark, sf_dir, "documents")
    a = docs.select(
        "doc_id",
        "n_chars",
        (_md5_byte0(F.col("doc_id"), salt="shard:") % 8).alias("shard"),
    )
    return (
        a.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
        .withColumn(
            "balance_ratio",
            F.round(
                (F.col("n_docs") * 8.0 / F.sum("n_docs").over(W.partitionBy()))
                * 10000.0
            )
            / 10000.0,
        )
        .orderBy("shard")
    )


@q(
    "doc_curriculum_buckets",
    """
    WITH sc AS (
      SELECT doc_id, n_chars,
             CAST(floor(1000.0 * len(list_distinct(string_split(text, ' ')))
                        / len(string_split(text, ' '))) AS BIGINT) AS score
      FROM documents
    ),
    b AS (
      SELECT doc_id, n_chars, score,
             ntile(5) OVER (ORDER BY score DESC, doc_id ASC) AS bucket
      FROM sc
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(score) AS BIGINT) AS min_score,
           CAST(max(score) AS BIGINT) AS max_score,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def doc_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: documents rank by an exact-integer lexical-
    diversity score (1000·distinct_tokens/tokens, floor — integer so
    no fp boundary can flip a bucket edge, per CLAUDE.md's membership
    rule) and split into ntile(5) quality quintiles with a
    deterministic doc_id tie-break — the bucket column a curriculum
    schedule samples from (clean→noisy ordering). The oracle IS the
    ntile; the Spark plan computes the identical partition WITHOUT a
    global sort (VERDICT r4 item 4's documented swap, now landed):

    1. roll up per SCORE VALUE (the score domain is ≤ 1001 integers —
       floor of a [0,1] ratio ×1000), one tiny aggregate;
    2. each score's global rank span [before+1, before+cnt] comes
       from a broadcast self-join over that ≤1001-row domain (no
       window at all), ntile bucket edges from exact integer
       arithmetic on (n_total div 5, n_total % 5);
    3. scores whose span lies inside one bucket (all but ≤ 4 of
       them) contribute their rollup row directly — map-only;
    4. only BOUNDARY-STRADDLING scores (≤ 4, one per quintile edge)
       rejoin their documents, rank within score by doc_id ASC (a
       PARTITIONED window, exactly ntile's tie-break), and split at
       the edge.

    Per-bucket stats are exact integers; bucket membership is pure
    integer `div`/`%` (no float can flip an edge). At 100 TB the
    corpus-sized work is one groupBy(score) with map-side combine
    plus a partitioned rank over the handful of edge scores."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\Q \E")
    sc = docs.select(
        "doc_id",
        "n_chars",
        F.floor(1000.0 * F.size(F.array_distinct(toks)) / F.size(toks))
        .cast("long")
        .alias("score"),
    )
    per_score = sc.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    # rank-before counts via a ≤1001×1001 broadcast self-join on the
    # score DOMAIN (ntile orders score DESC, so "before" = docs with a
    # strictly higher score); n_total rides the same tiny frame
    higher = per_score.select(
        F.col("score").alias("_s2"), F.col("cnt").alias("_c2")
    )
    tot = per_score.agg(F.sum("cnt").cast("long").alias("n_total"))
    spans = (
        per_score.join(
            F.broadcast(higher), F.col("_s2") > F.col("score"), "left"
        )
        .groupBy("score", "cnt", "chars")
        .agg(F.coalesce(F.sum("_c2"), F.lit(0)).cast("long").alias("before"))
        .crossJoin(F.broadcast(tot))
    )

    # ntile(5) bucket of a 1-based rank — the shared integer-div
    # arithmetic in operators/ranking.py (code-review r5 deduped the
    # former local CASE-expr copy of the same formula)
    from ..operators.ranking import ntile_of_rank

    def _bucket_of(r):
        return ntile_of_rank(r, F.col("n_total"), 5)

    spans = spans.withColumn(
        "b_lo", _bucket_of(F.col("before") + 1)
    ).withColumn("b_hi", _bucket_of(F.col("before") + F.col("cnt")))

    whole = spans.where(F.col("b_lo") == F.col("b_hi")).select(
        F.col("b_lo").alias("bucket"),
        F.col("cnt").alias("n"),
        F.col("chars").alias("ch"),
        F.col("score").alias("min_s"),
        F.col("score").alias("max_s"),
    )
    straddle = spans.where(F.col("b_lo") != F.col("b_hi")).select(
        "score", "before", "n_total"
    )
    pos = F.row_number().over(W.partitionBy("score").orderBy(F.asc("doc_id")))
    edge = (
        sc.join(F.broadcast(straddle), "score")
        .withColumn("_r", F.col("before") + pos)
        .withColumn("bucket", _bucket_of(F.col("_r")))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("ch"),
            F.min("score").alias("min_s"),
            F.max("score").alias("max_s"),
        )
    )
    return (
        whole.unionByName(edge)
        .groupBy("bucket")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.min("min_s").cast("long").alias("min_score"),
            F.max("max_s").cast("long").alias("max_score"),
            F.sum("ch").cast("long").alias("sum_chars"),
        )
        .orderBy("bucket")
    )


@q(
    "embedding_matryoshka_truncation",
    """
    WITH f AS (
      SELECT label,
             list_reduce(list_transform(embedding[1:8]::DOUBLE[], x -> x * x),
                         (a, b) -> a + b)
             / list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                           (a, b) -> a + b) AS frac8,
             list_reduce(list_transform(embedding[1:16]::DOUBLE[], x -> x * x),
                         (a, b) -> a + b)
             / list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                           (a, b) -> a + b) AS frac16
      FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(frac8) * 10000.0) / 10000.0 AS energy_frac_8,
           round(avg(frac16) * 10000.0) / 10000.0 AS energy_frac_16
    FROM f GROUP BY label ORDER BY label
    """,
)
def embedding_matryoshka_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: the fraction of each
    vector's squared norm retained by its first 8 and 16 of 64 dims,
    averaged per label — the measurement that decides whether serving
    can use a truncated prefix (MRL) instead of the full embedding.
    Per-vector fractions fold IN-ROW in one defined order
    (``F.aggregate`` ↔ DuckDB ``list_reduce``, both left folds —
    CLAUDE.md's float-determinism rule; the 0.0 seed is exact so both
    engines produce identical doubles), entirely JVM-side. Map-only
    until the |labels|-row aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))

    def sumsq(col):
        return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)

    full = sumsq(v)
    f = emb.select(
        "label",
        (sumsq(F.slice(v, 1, 8)) / full).alias("frac8"),
        (sumsq(F.slice(v, 1, 16)) / full).alias("frac16"),
    )
    return (
        f.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            (F.round(F.avg("frac8") * 10000.0) / 10000.0).alias("energy_frac_8"),
            (F.round(F.avg("frac16") * 10000.0) / 10000.0).alias(
                "energy_frac_16"
            ),
        )
        .orderBy("label")
    )


@q(
    "ab_srm_check",
    f"""
    WITH u AS (
      SELECT DISTINCT user_id, {_AB_VARIANT_SQL} AS variant
      FROM events
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS DOUBLE) AS na,
             CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS DOUBLE) AS nb
      FROM u
    )
    SELECT CAST(na AS BIGINT) AS users_a,
           CAST(nb AS BIGINT) AS users_b,
           round(((na - nb) * (na - nb) / (na + nb)) * 1000000.0) / 1000000.0
             AS chi2,
           CAST(CASE WHEN (na - nb) * (na - nb) / (na + nb) > 3.841
                THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM s
    """,
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: chi-square (1 df) of the
    realized A/B user split against the designed 50/50 — the health
    check that must pass BEFORE `ab_test_purchase_lift`'s z means
    anything (assignment bugs show up as SRM long before they show up
    as fake lift; 3.841 = χ²₁ at α=0.05). Same 'ab:'-salted
    assignment as the readout entries, so this audits exactly the
    split they use. One distinct-user aggregate → a single row; the
    statistic is one fp expression over exact integer counts
    (membership decided on integers — the flag can't flake)."""
    ev = _t(spark, sf_dir, "events")
    u = ev.select(
        "user_id",
        F.when(_md5_byte0(F.col("user_id"), salt="ab:") % 2 == 0, "A")
        .otherwise("B")
        .alias("variant"),
    ).distinct()
    s = u.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("double")
        .alias("na"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("double")
        .alias("nb"),
    )
    chi2 = (F.col("na") - F.col("nb")) * (F.col("na") - F.col("nb")) / (
        F.col("na") + F.col("nb")
    )
    return s.select(
        F.col("na").cast("long").alias("users_a"),
        F.col("nb").cast("long").alias("users_b"),
        (F.round(chi2 * 1000000.0) / 1000000.0).alias("chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).cast("long").alias("srm_flag"),
    )
