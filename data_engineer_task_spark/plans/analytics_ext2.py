"""Third batch of declared inventory entries — operator families the
first two batches did not yet cover, each paired with a DuckDB oracle:

 - benchmark-contamination detection (trigram overlap vs a held-out set)
 - intra-document repetition profiling (Gopher-style duplicate n-grams)
 - Zipf rank/frequency curve over the corpus vocabulary
 - Markov transition matrix over per-user event sequences
 - inter-arrival time percentiles (lag diffs per user/type)
 - OHLC time-bar downsampling (first/last/min/max per hour)
 - listagg / ordered array_agg (bounded grouped string assembly)
 - column-level null/distinct table profiling (one-pass + unpivot)
 - int8 scalar quantization round-trip error for embeddings
 - class-balanced deterministic downsampling (per-language)
 - stream-static broadcast enrichment join (real streaming run)
 - statistical aggregates (stddev_samp / corr)
 - chi-square contingency independence scan
 - Shannon entropy class-balance profiling
 - recursive CTE hierarchy rollup (WITH RECURSIVE)
 - trailing rolling distinct cardinality (day fan-out)
 - winsorization (percentile clipping)
 - time-hierarchy rollup (grouping sets over hour/day)
 - correlated EXISTS / uncorrelated scalar subquery (SQL text)
 - LIMIT/OFFSET pagination

Registered into the same ``QUERIES`` / ``ORACLE`` dicts via the ``q``
decorator. Authoring rules are the ones at the top of ``analytics.py``
(identical aliases both sides, rounded floats, BIGINT casts, explicit
null ordering + deterministic tie-breaks, no raw timestamps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import _t, _t_wide, q


def _tokens(col: str = "text"):
    """Whitespace tokens of a document (driver docs are single-space
    word soup; split on the literal space, regex-quoted)."""
    return F.split(F.col(col), r"\Q \E")


def _ngrams(toks, n: int):
    """In-row n-gram assembly: zip the token array with its own n-1
    shifted tails (arrays_zip + slice), then join each zipped struct —
    no positional self-join, no explode before the gram is formed
    (SCALING.md: shingles built IN-ROW). Short docs yield an empty
    array, not an error.

    Shape note: an index-sequence transform with ``toks[i + k]`` inside
    the lambda re-evaluates the underlying split expression per element
    reference — measured 11× slower at sf0.1. The zip form evaluates
    ``toks`` once per row and the lambda only touches struct fields."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    z = F.arrays_zip(
        *[F.slice(toks, k + 1, m).alias(f"t{k}") for k in range(n)]
    )
    return F.transform(
        z, lambda s: F.concat_ws(" ", *[s[f"t{k}"] for k in range(n)])
    )


# DuckDB spelling of the same in-row trigram build. range(1, L-1) is
# empty for L < 3 — same guard as the Spark side.
_DUCK_TRIGRAMS = (
    "list_transform(range(1, greatest(len(ts) - 1, 1)), "
    "i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])"
)
_DUCK_BIGRAMS = (
    "list_transform(range(1, greatest(len(ts), 1)), "
    "i -> ts[i] || ' ' || ts[i+1])"
)


@q(
    "doc_contamination_overlap",
    f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
    ),
    grams AS (
      SELECT doc_id, source, list_distinct({_DUCK_TRIGRAMS}) AS gs FROM toks
    ),
    bench AS (
      SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 97 = 0
    ),
    corpus AS (
      SELECT doc_id, source, unnest(gs) AS g, len(gs) AS n_grams
      FROM grams WHERE doc_id % 97 <> 0
    ),
    hits AS (
      SELECT c.doc_id, c.source, c.n_grams,
             CAST(count(b.g) AS BIGINT) AS n_hits
      FROM corpus c LEFT JOIN bench b ON c.g = b.g
      GROUP BY c.doc_id, c.source, c.n_grams
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           round((avg(CAST(n_hits AS DOUBLE) / n_grams)) * 10000.0) / 10000.0 AS avg_overlap
    FROM hits GROUP BY source ORDER BY source
    """,
)
def doc_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection — the decontamination pass
    every training-data pipeline runs before a model ships: fraction of
    each document's distinct trigrams that also appear in a held-out
    "benchmark" set (here: docs with ``doc_id % 97 == 0``, a
    deterministic stand-in for an external eval suite). Trigrams are
    built IN-ROW (arrays_zip of shifted tails — no positional
    self-join), the benchmark gram set is distinct-collapsed
    and BROADCAST into the corpus-gram probe (benchmark suites are
    KB–MB scale; the corpus never shuffles on gram), and per-doc hit
    counts aggregate map-side. At 100 TB the corpus side stays a scan
    → in-row fan-out → broadcast-hash probe → two bounded aggregates."""
    toks = _tokens()
    grams = (
        _t_wide(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.array_distinct(_ngrams(toks, 3)).alias("gs"),
        )
    )
    bench = (
        grams.where(F.col("doc_id") % 97 == 0)
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    corpus = (
        grams.where(F.col("doc_id") % 97 != 0)
        .select("doc_id", "source", F.size("gs").alias("n_grams"), F.explode("gs").alias("g"))
    )
    hits = (
        corpus.join(F.broadcast(bench.withColumnRenamed("g", "bg")),
                    corpus["g"] == F.col("bg"), "left")
        .groupBy("doc_id", "source", "n_grams")
        .agg(F.count("bg").cast("long").alias("n_hits"))
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
            (F.round((F.avg(F.col("n_hits").cast("double") / F.col("n_grams"))) * 10000.0) / 10000.0).alias("avg_overlap"),
        )
        .orderBy("source")
    )


@q(
    "doc_repetition_profile",
    f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
    ),
    bg AS (
      SELECT doc_id, source, {_DUCK_BIGRAMS} AS gs FROM toks
    ),
    frac AS (
      SELECT source,
             1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs) AS rep
      FROM bg WHERE len(gs) > 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round((avg(rep)) * 10000.0) / 10000.0 AS avg_repetition,
           round((max(rep)) * 10000.0) / 10000.0 AS max_repetition,
           CAST(sum(CASE WHEN rep > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repetitious
    FROM frac GROUP BY source ORDER BY source
    """,
)
def doc_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher-style quality signal): the
    fraction of a document's bigrams that are duplicates of an earlier
    bigram in the SAME document. Entirely in-row array math (split →
    transform → array_distinct → size) — zero joins, zero explodes;
    the only shuffle is the final per-source aggregate over scalar
    fractions. The map-side shape is what makes this viable as a
    pre-filter over 100 TB of raw crawl text."""
    toks = _tokens()
    gs = _ngrams(toks, 2)
    frac = (
        _t_wide(spark, sf_dir, "documents")
        .select(
            "source",
            (
                F.lit(1.0)
                - F.size(F.array_distinct(gs)).cast("double") / F.size(gs)
            ).alias("rep"),
            F.size(gs).alias("n_bg"),
        )
        .where(F.col("n_bg") > 0)
    )
    return (
        frac.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.round((F.avg("rep")) * 10000.0) / 10000.0).alias("avg_repetition"),
            (F.round((F.max("rep")) * 10000.0) / 10000.0).alias("max_repetition"),
            F.sum(F.when(F.col("rep") > 0.5, 1).otherwise(0))
            .cast("long")
            .alias("n_repetitious"),
        )
        .orderBy("source")
    )


@q(
    "corpus_zipf_curve",
    """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n
      FROM tok GROUP BY token
    ),
    ranked AS (
      SELECT token, n,
             row_number() OVER (ORDER BY n DESC, token ASC) AS rank
      FROM counts
    )
    SELECT rank, token, n,
           round((CAST(n AS DOUBLE)
                 / lag(n) OVER (ORDER BY rank ASC)) * 10000.0) / 10000.0 AS ratio_to_prev
    FROM ranked WHERE rank <= 20 ORDER BY rank
    """,
)
def corpus_zipf_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank/frequency curve of the corpus vocabulary: top-20
    tokens with their rank and the frequency ratio to the
    next-more-frequent token. Token counts aggregate map-side
    (partial agg) before the vocabulary-sized shuffle; the rank +
    lag windows then run over a VOCABULARY-bounded table (≪ corpus),
    and WindowGroupLimit bounds the top-k sort. Deterministic
    tie-break: token ASC at equal counts."""
    tok = (
        _t_wide(spark, sf_dir, "documents")
        .select(F.explode(_tokens()).alias("token"))
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = W.orderBy(F.desc("n"), F.asc("token"))
    ranked = counts.select(
        "token", "n", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= 20)
    return ranked.select(
        "rank",
        "token",
        "n",
        F.round(
            F.col("n").cast("double") / F.lag("n").over(W.orderBy(F.asc("rank"))),
            4,
        ).alias("ratio_to_prev"),
    ).orderBy("rank")


@q(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ) AS to_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           round((CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY from_type)) * 10000.0) / 10000.0 AS prob
    FROM pairs ORDER BY from_type, to_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (the session-modeling primitive behind next-action
    prediction features). One shuffle on user_id for the lead window,
    one bounded aggregate on (from, to) — the row-probability
    normalization runs as a window over the TYPE²-bounded matrix, not
    the fact table. Ordering ties broken by event_id so consecutive
    same-timestamp events sequence identically in every engine."""
    ev = _t(spark, sf_dir, "events")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id")))
        .alias("to_type"),
    )
    pairs = (
        seq.where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("from_type")),
            4,
        ).alias("prob"),
    ).orderBy("from_type", "to_type")


@q(
    "event_interarrival_stats",
    """
    WITH gaps AS (
      SELECT event_type,
             CAST(date_diff('microsecond',
                            lag(ts) OVER (
                              PARTITION BY user_id, event_type
                              ORDER BY ts ASC, event_id ASC
                            ), ts) AS DOUBLE) / 1000000.0 AS gap_s
      FROM events
    )
    SELECT event_type,
           CAST(count(gap_s) AS BIGINT) AS n_gaps,
           round((quantile_cont(gap_s, 0.5)::DOUBLE) * 1000.0) / 1000.0 AS p50_gap_s,
           round((quantile_cont(gap_s, 0.9)::DOUBLE) * 1000.0) / 1000.0 AS p90_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type: lag-diff within
    (user, type), then exact interpolated percentiles of the gap in
    seconds. The window shuffles once on the composite key; the
    percentile aggregates over per-type groups (exact form declared
    for the oracle — ``percentile_approx`` is the same call shape at
    100 TB, per the quantile entry's scale note). Microsecond diffs
    keep the arithmetic integer-exact before the single division."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    gaps = ev.select(
        "event_type",
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).cast(
                "double"
            )
            / 1000000.0
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_s").cast("long").alias("n_gaps"),
            (F.round((F.expr("percentile(gap_s, 0.5)")) * 1000.0) / 1000.0).alias("p50_gap_s"),
            (F.round((F.expr("percentile(gap_s, 0.9)")) * 1000.0) / 1000.0).alias("p90_gap_s"),
        )
        .orderBy("event_type")
    )


@q(
    "event_hourly_ohlc",
    """
    WITH ranked AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, value,
             row_number() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts ASC, event_id ASC) AS rn_first,
             row_number() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn_last
      FROM events
    )
    SELECT event_type, strftime(hr, '%Y-%m-%d %H') AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           round((max(CASE WHEN rn_first = 1 THEN value END)) * 100.0) / 100.0 AS open,
           round((max(value)) * 100.0) / 100.0 AS high,
           round((min(value)) * 100.0) / 100.0 AS low,
           round((max(CASE WHEN rn_last = 1 THEN value END)) * 100.0) / 100.0 AS close
    FROM ranked GROUP BY event_type, hr
    ORDER BY event_type, hour
    LIMIT 200
    """,
)
def event_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling (the time-series compaction primitive:
    open / high / low / close per hour per series). Both row_number
    windows share one (type, hour) partitioning → a single shuffle,
    two in-partition sorts; the conditional max folds first/last into
    the same grouped aggregate as min/max/count. Ties at equal ts
    break on event_id, making open/close engine-identical. Bounded to
    200 bars for a stable declared output."""
    ev = _t(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts"))
    pw = W.partitionBy("event_type", hr)
    ranked = ev.select(
        "event_type",
        hr.alias("hr"),
        "value",
        F.row_number()
        .over(pw.orderBy(F.asc("ts"), F.asc("event_id")))
        .alias("rn_first"),
        F.row_number()
        .over(pw.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn_last"),
    )
    return (
        ranked.groupBy("event_type", "hr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.round((F.max(F.when(F.col("rn_first") == 1, F.col("value")))) * 100.0) / 100.0).alias("open"),
            (F.round((F.max("value")) * 100.0) / 100.0).alias("high"),
            (F.round((F.min("value")) * 100.0) / 100.0).alias("low"),
            (F.round((F.max(F.when(F.col("rn_last") == 1, F.col("value")))) * 100.0) / 100.0).alias("close"),
        )
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH").alias("hour"),
            "n_events",
            "open",
            "high",
            "low",
            "close",
        )
        .orderBy("event_type", "hour")
        .limit(200)
    )


@q(
    "brand_type_listing",
    """
    WITH per AS (
      SELECT p_brand,
             CAST(count(DISTINCT p_type) AS BIGINT) AS n_types,
             list(DISTINCT p_type) AS types
      FROM part GROUP BY p_brand
    )
    SELECT p_brand, n_types,
           array_to_string(list_sort(types)[1:5], ',') AS first_types
    FROM per ORDER BY p_brand
    """,
)
def brand_type_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered grouped string assembly (LISTAGG family): per brand,
    the distinct part-type census plus the first five types
    lexicographically, comma-joined. collect_set dedupes map-side
    before the (brand-bounded) shuffle; sort_array + slice keep
    the assembled string bounded and deterministic — grouped string
    aggregation is only scale-safe when the group payload is capped,
    which the slice makes explicit."""
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(F.collect_set("p_type").alias("types"))
        .select(
            "p_brand",
            F.size("types").cast("long").alias("n_types"),
            F.array_join(F.slice(F.sort_array("types"), 1, 5), ",").alias(
                "first_types"
            ),
        )
        .orderBy("p_brand")
    )


@q(
    "events_null_profile",
    """
    SELECT 'event_id' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
    FROM events
    UNION ALL
    SELECT 'event_type', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT event_type) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'value', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT value) AS BIGINT)
    FROM events
    ORDER BY column_name
    """,
)
def events_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level table profiling (null counts + exact distinct
    cardinality) — the schema-drift / data-quality sweep run before a
    table enters a pipeline. The Spark plan is ONE pass: a single
    aggregate computes every column's stats (distinct aggs expand to
    per-column partials under one shuffle), then an in-row stack
    unpivots to the (column, stats) long form — versus the oracle's
    four scans. At 100 TB the exact distincts swap for
    approx_count_distinct / HLL sketches (same plan shape, tested in
    test_scale_patterns)."""
    ev = _t(spark, sf_dir, "events")
    cols = ["event_id", "event_type", "user_id", "value"]
    agg = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__nulls")
            for c in cols
        ],
        *[
            F.count_distinct(F.col(c)).cast("long").alias(f"{c}__distinct")
            for c in cols
        ],
    )
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct" for c in cols
    )
    return (
        agg.select(
            F.col("n_rows"),
            F.expr(
                f"stack({len(cols)}, {stack}) AS (column_name, n_nulls, n_distinct)"
            ),
        )
        .select("column_name", "n_rows", "n_nulls", "n_distinct")
        .orderBy("column_name")
    )


@q(
    "embedding_quantization_error",
    """
    WITH v AS (
      SELECT label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    scaled AS (
      SELECT label,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale,
             e
      FROM v
    ),
    err AS (
      SELECT label, scale,
             list_max(list_transform(
               e, x -> abs(x - round(x / scale) * scale))) AS max_err
      FROM scaled WHERE scale > 0
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round((avg(scale)) * 1000000.0) / 1000000.0 AS avg_scale,
           round((avg(max_err)) * 1000000.0) / 1000000.0 AS avg_max_err,
           round((max(max_err)) * 1000000.0) / 1000000.0 AS worst_err
    FROM err GROUP BY label ORDER BY label
    """,
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization round-trip error — the storage/serving
    compression every embedding store applies (4× smaller than fp32,
    ~2 decimal digits of error). Per-vector scale = max|x|/127;
    reconstruction error is computed entirely with in-row
    higher-order functions on doubles (transform → max fold) — a
    map-only pass with one label-bounded aggregate, no Python, no
    shuffle of vector payloads. Per-vector max is order-independent,
    so only the final avg carries fp-sum-order sensitivity (rounded)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scaled = emb.select(
        "label",
        (
            F.array_max(F.transform(e, lambda x: F.abs(x))) / F.lit(127.0)
        ).alias("scale"),
        e.alias("e"),
    ).where(F.col("scale") > 0)
    err = scaled.select(
        "label",
        "scale",
        F.array_max(
            F.transform(
                F.col("e"),
                lambda x: F.abs(
                    x - F.round(x / F.col("scale"), 0) * F.col("scale")
                ),
            )
        ).alias("max_err"),
    )
    return (
        err.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            (F.round((F.avg("scale")) * 1000000.0) / 1000000.0).alias("avg_scale"),
            (F.round((F.avg("max_err")) * 1000000.0) / 1000000.0).alias("avg_max_err"),
            (F.round((F.max("max_err")) * 1000000.0) / 1000000.0).alias("worst_err"),
        )
        .orderBy("label")
    )


@q(
    "doc_balanced_lang_sample",
    """
    WITH target AS (
      SELECT CAST(min(n) AS BIGINT) AS target FROM (
        SELECT lang, count(*) AS n FROM documents GROUP BY lang
      )
    ),
    ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('bal:' || CAST(doc_id AS VARCHAR)) ASC,
                        doc_id ASC
             ) AS rn
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM ranked, target WHERE rn <= target
    GROUP BY lang ORDER BY lang
    """,
)
def doc_balanced_lang_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language contributes exactly
    min-class-count documents, membership chosen by salted-md5 lottery
    rank (engine-portable, rand()-free — the sampling doctrine from
    operators/sampling.py) with doc_id tie-break. The target size is
    a one-row broadcast. id_checksum pins MEMBERSHIP equality, not
    just counts.

    Scale shape (r6 low-cardinality-window audit): `lang` has a
    handful of values and the sample size is a COLUMN (min class
    count), so the former per-lang row_number window funneled each
    language's whole slice through one task — and WindowGroupLimit
    can't push a non-literal limit. The rank now rides
    ``ordered_prefix`` partitioned by lang: the numeric bucket key is
    the md5 prefix's first 48 bits, and (uint48 ASC, full-md5 ASC,
    doc_id ASC) is EXACTLY the old (md5-hex ASC, doc_id ASC) order —
    fixed-width lowercase-hex lexicographic order IS numeric order, so
    the 48-bit prefix agrees wherever it distinguishes and the full
    string breaks its ties. Membership, and therefore every checksum,
    is bit-identical; the oracle keeps the window spelling. At skewed
    100 TB swap to an md5-threshold acceptance pass (map-only,
    approximate per-class size) when exact class sizes aren't
    required."""
    from ..operators.ranking import ordered_prefix

    docs = _t(spark, sf_dir, "documents")
    target = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").cast("long").alias("target"))
    )
    rank_key = F.md5(F.concat(F.lit("bal:"), F.col("doc_id").cast("string")))
    keyed = docs.select(
        "lang", "doc_id", rank_key.alias("_h"),
        F.conv(F.substring(rank_key, 1, 12), 16, 10).cast("long").alias("_h48"),
    )
    ranked = ordered_prefix(
        keyed,
        "_h48",
        ["_h", "doc_id"],
        rank_col="rn",
        buckets=32,
        partition_by=["lang"],
    )
    return (
        ranked.crossJoin(F.broadcast(target))
        .where(F.col("rn") <= F.col("target"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("lang")
    )


@q(
    "stream_enriched_event_stats",
    """
    SELECT c_mktsegment AS segment, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round((sum(value)) * 100.0) / 100.0 AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2 ORDER BY segment, event_type
    """,
)
def stream_enriched_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment as a REAL Structured
    Streaming query: events stream ⋈ static customer dimension →
    per-(segment, type) aggregate, driven through micro-batches to a
    memory sink and verified against the plain batch-join oracle.
    Stream-static inner joins keep NO join state (the static side is a
    broadcast hash table probed per batch) — the canonical shape for
    dimension enrichment at 100 TB stream volume."""
    from ..streaming.aggregate import run_stream_static_join_once

    return run_stream_static_join_once(
        spark,
        f"{sf_dir}/events.parquet",
        _t(spark, sf_dir, "customer"),
        query_name="stream_enriched",
    )


@q(
    "priority_price_dispersion",
    """
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
             CAST(count(l.l_orderkey) AS BIGINT) AS n_items
      FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_totalprice
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round((stddev_samp(o_totalprice)) * 100.0) / 100.0 AS price_stddev,
           round((corr(CAST(n_items AS DOUBLE), o_totalprice)) * 10000.0) / 10000.0
             AS items_price_corr
    FROM per_order GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def priority_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family (stddev_samp / corr — absent from
    the reference's COUNT-only surface, SURVEY §2.5): per priority, the
    price dispersion and the item-count↔price correlation. The
    per-order item count comes from one fact-key aggregate join; both
    moments then partial-aggregate map-side (sum/sum-of-squares/
    cross-moment decomposition is Spark's built-in implementation), so
    the priority-level shuffle carries five doubles per group."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = (
        orders.join(
            li.select("l_orderkey"),
            orders["o_orderkey"] == li["l_orderkey"],
            "left",
        )
        .groupBy("o_orderkey", "o_orderpriority", "o_totalprice")
        .agg(F.count("l_orderkey").cast("long").alias("n_items"))
    )
    return (
        per_order.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            # nanvl: Spark yields NaN (DuckDB: NULL) for stddev/corr on
            # single-row or zero-variance groups — map to NULL so the
            # engines stay identical on degenerate groups.
            F.round(
                F.nanvl(
                    F.stddev_samp("o_totalprice"),
                    F.lit(None).cast("double"),
                ),
                2,
            ).alias("price_stddev"),
            F.round(
                F.nanvl(
                    F.corr(F.col("n_items").cast("double"), F.col("o_totalprice")),
                    F.lit(None).cast("double"),
                ),
                4,
            ).alias("items_price_corr"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "lang_source_chisq",
    """
    WITH obs AS (
      SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
      FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT lang, source, o,
             sum(o) OVER (PARTITION BY lang) AS row_t,
             sum(o) OVER (PARTITION BY source) AS col_t,
             sum(o) OVER () AS grand
      FROM obs
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           round((sum(pow(o - row_t * col_t / grand, 2)
                     / (row_t * col_t / grand))) * 10000.0) / 10000.0 AS chi2
    FROM tot
    """,
)
def lang_source_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence scan over the lang×source contingency
    table — the drift/bias detector for corpus composition ("is
    language mix independent of source?"). One aggregate collapses the
    fact table to the CELL-count frame (|lang|×|source| rows);
    marginals come from windows over that tiny frame, never a second
    fact scan. Expected counts are exact integer-ratio arithmetic in
    doubles, identical across engines; only the final sum is rounded."""
    docs = _t(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    tot = obs.select(
        "o",
        F.sum("o").over(W.partitionBy("lang")).alias("row_t"),
        F.sum("o").over(W.partitionBy("source")).alias("col_t"),
        F.sum("o").over(W.partitionBy()).alias("grand"),
    )
    e = F.col("row_t") * F.col("col_t") / F.col("grand")
    return tot.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (F.round((F.sum(F.pow(F.col("o") - e, 2) / e)) * 10000.0) / 10000.0).alias("chi2"),
    )


@q(
    "status_priority_entropy",
    """
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(count(*) AS DOUBLE) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    p AS (
      SELECT o_orderstatus, n / sum(n) OVER (PARTITION BY o_orderstatus) AS p
      FROM c
    )
    SELECT o_orderstatus,
           round((-sum(p * ln(p))) * 10000.0) / 10000.0 AS entropy_nats,
           CAST(count(*) AS BIGINT) AS n_classes
    FROM p GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def status_priority_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the priority distribution within each order
    status — the information-theoretic balance metric (0 = one class
    dominates, ln(5) ≈ 1.609 = perfectly uniform over 5 priorities)
    used to monitor label balance in training data. Same scale shape
    as the chi-square entry: fact collapses to the class-count frame
    in one aggregate; probabilities and the entropy fold run over
    that bounded frame."""
    orders = _t(spark, sf_dir, "orders")
    c = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    p = c.select(
        "o_orderstatus",
        (
            F.col("n") / F.sum("n").over(W.partitionBy("o_orderstatus"))
        ).alias("p"),
    )
    return (
        p.groupBy("o_orderstatus")
        .agg(
            (F.round((-F.sum(F.col("p") * F.log(F.col("p")))) * 10000.0) / 10000.0).alias(
                "entropy_nats"
            ),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
        )
        .orderBy("o_orderstatus")
    )


@q(
    "custkey_ancestry_depths",
    """
    WITH RECURSIVE anc AS (
      SELECT c_custkey AS node, c_custkey AS ancestor, 0 AS depth
      FROM customer WHERE c_custkey < 1024
      UNION ALL
      SELECT node, ancestor // 2, depth + 1 FROM anc WHERE ancestor >= 1
    )
    SELECT depth,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(node) AS BIGINT) AS node_checksum
    FROM anc GROUP BY depth ORDER BY depth
    """,
)
def custkey_ancestry_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``) — the hierarchical
    traversal family (org charts, BOM rollups, folder trees) the
    reference has no surface for. The testdata ships no parent-child
    table, so the hierarchy is the synthetic binary tree
    ``parent(k) = k div 2`` over custkeys: every customer's full
    ancestor chain is enumerated to the root, then rolled up per
    depth. UNION ALL recursion on a strict DAG with log2(N) depth —
    each iteration is one broadcast-able self-extension; rows never
    revisit a node, so the fixpoint is exactly N·log N rows."""
    cust = _t(spark, sf_dir, "customer")
    cust.select("c_custkey").createOrReplaceTempView("_anc_seed")
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
          SELECT c_custkey AS node, c_custkey AS ancestor, 0 AS depth
          FROM _anc_seed WHERE c_custkey < 1024
          UNION ALL
          SELECT node, ancestor div 2, depth + 1 FROM anc WHERE ancestor >= 1
        )
        SELECT depth,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(node) AS BIGINT) AS node_checksum
        FROM anc GROUP BY depth ORDER BY depth
        """
    )


@q(
    "rolling_distinct_users",
    """
    WITH contrib AS (
      SELECT DISTINCT
             CAST(date_trunc('day', ts) AS DATE) + CAST(i AS INTEGER) AS day,
             user_id
      FROM events, UNNEST(range(0, 7)) AS t(i)
    ),
    bounds AS (
      SELECT max(CAST(date_trunc('day', ts) AS DATE)) AS max_day FROM events
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(count(user_id) AS BIGINT) AS users_7d
    FROM contrib, bounds WHERE day <= max_day
    GROUP BY day ORDER BY day
    """,
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct-user cardinality per day (the rolling
    MAU/WAU family). Distinct counts can't ride a window frame, and a
    per-day range join re-scans the fact 7×; instead each event
    FANS OUT map-side to the ≤7 days it contributes to (in-row
    sequence → explode), then one (day, user) distinct + one grouped
    count — a single shuffle keyed by day, linear in events×7. The
    trailing-window trim (days past the data's end) is a one-row
    broadcast bound."""
    ev = _t(spark, sf_dir, "events")
    contrib = (
        ev.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(6)),
                    lambda i: F.date_add(F.col("ts").cast("date"), i),
                )
            ).alias("day"),
            "user_id",
        )
        .distinct()
    )
    bounds = ev.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .where(F.col("day") <= F.col("max_day"))
        .groupBy("day")
        .agg(F.count("user_id").cast("long").alias("users_7d"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "users_7d")
        .orderBy("day")
    )


@q(
    "order_price_winsorized",
    """
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice, 0.05)::DOUBLE AS lo,
             quantile_cont(o_totalprice, 0.95)::DOUBLE AS hi
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round((avg(o_totalprice)) * 100.0) / 100.0 AS mean_raw,
           round((avg(least(greatest(o_totalprice, lo), hi))) * 100.0) / 100.0
             AS mean_winsorized,
           CAST(sum(CASE WHEN o_totalprice < lo OR o_totalprice > hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM orders, cuts
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def order_price_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile clipping, the standard robust
    preprocessing for heavy-tailed features): global p05/p95 cuts from
    ONE exact-percentile aggregate, broadcast back as a one-row frame,
    then a map-side clamp + per-priority stats. Two passes total —
    never a per-row correlated percentile. At 100 TB the cuts pass
    swaps to ``percentile_approx`` (same plan shape, sketch-merged)."""
    orders = _t(spark, sf_dir, "orders")
    cuts = orders.agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("lo"),
        F.expr("percentile(o_totalprice, 0.95)").alias("hi"),
    )
    clipped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")
    )
    return (
        orders.crossJoin(F.broadcast(cuts))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.round((F.avg("o_totalprice")) * 100.0) / 100.0).alias("mean_raw"),
            (F.round((F.avg(clipped)) * 100.0) / 100.0).alias("mean_winsorized"),
            F.sum(
                F.when(
                    (F.col("o_totalprice") < F.col("lo"))
                    | (F.col("o_totalprice") > F.col("hi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clipped"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "event_time_rollup",
    """
    WITH base AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
             value
      FROM events
    )
    SELECT day, hour,
           CAST(grouping(hour) AS INT) AS is_day_level,
           CAST(count(*) AS BIGINT) AS n_events,
           round((sum(value)) * 100.0) / 100.0 AS total_value
    FROM base
    GROUP BY GROUPING SETS ((day), (day, hour))
    ORDER BY day, is_day_level DESC, hour NULLS FIRST
    """,
)
def event_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup (the hypertable continuous-aggregate
    shape): hourly AND daily aggregates of the same fact in ONE scan +
    ONE Expand — not a union of two aggregation passes. grouping()
    marks the level so consumers can route; at 100 TB this is the
    materialization query behind serving both granularities from one
    job."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        F.date_format(
            F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH"
        ).alias("hour"),
        "value",
    )
    base.createOrReplaceTempView("_time_rollup_base")
    return spark.sql(
        """
        SELECT day, hour,
               CAST(grouping(hour) AS INT) AS is_day_level,
               CAST(count(*) AS BIGINT) AS n_events,
               round((sum(value)) * 100.0) / 100.0 AS total_value
        FROM _time_rollup_base
        GROUP BY GROUPING SETS ((day), (day, hour))
        ORDER BY day, is_day_level DESC, hour NULLS FIRST
        """
    )


@q(
    "suppliers_with_orders_exists",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey
        AND l.l_quantity > 45
    )
    ORDER BY s.s_suppkey
    """,
)
def suppliers_with_orders_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery in SQL-text form — Catalyst
    decorrelates it to one LeftSemi join (pinned in the plan tests), so
    the subquery never re-executes per outer row. Complements the
    DataFrame-API semi_join operator and the NOT IN anti form: all
    three spellings of membership land on the same physical plans."""
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("_ex_supplier")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_ex_lineitem")
    return spark.sql(
        """
        SELECT s.s_suppkey, s.s_name
        FROM _ex_supplier s
        WHERE EXISTS (
          SELECT 1 FROM _ex_lineitem l WHERE l.l_suppkey = s.s_suppkey
            AND l.l_quantity > 45
        )
        ORDER BY s.s_suppkey
        """
    )


@q(
    "orders_vs_global_avg",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_above_avg,
           round((min(o_totalprice)) * 100.0) / 100.0 AS min_above
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def orders_vs_global_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: the global average computes ONCE
    (a one-row subquery broadcast into the filter), never per row —
    the plan shows a single ReusedSubquery/Subquery node feeding the
    scan filter. SQL-text form; the DataFrame spelling is the
    crossJoin(broadcast(agg)) pattern used by the winsorized entry."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_ga_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_above_avg,
               round((min(o_totalprice)) * 100.0) / 100.0 AS min_above
        FROM _ga_orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM _ga_orders)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


@q(
    "customer_page_two",
    """
    SELECT c_custkey, c_name, round((c_acctbal) * 100.0) / 100.0 AS acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey ASC
    LIMIT 10 OFFSET 10
    """,
)
def customer_page_two(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination (page 2 of the balance leaderboard)
    with a fully deterministic sort (custkey tie-break). OFFSET in a
    distributed engine still sorts/skips the prefix — fine for bounded
    page depth; past a few thousand rows the scale-correct pattern is
    KEYSET pagination (WHERE (acctbal, custkey) < last-seen, same
    ORDER BY + LIMIT), which prunes instead of skipping."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.select(
            "c_custkey",
            "c_name",
            (F.round((F.col("c_acctbal")) * 100.0) / 100.0).alias("acctbal"),
        )
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .offset(10)
        .limit(10)
    )
