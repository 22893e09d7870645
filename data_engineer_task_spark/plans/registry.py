"""The query registry and the SQL fragments plan modules share.

Every declared entry registers here through ``@q(name, oracle_sql)``:
``QUERIES`` maps the name to its Spark program, ``ORACLE`` to the
DuckDB SQL it must hash-match (authoring rules at the top of
``plans/analytics.py``). Plan modules are leaves: each imports only
this module and non-plan packages, so importing one registers only its
own entries. ``plans/analytics.py`` imports every plan module in one
ordered list and calls ``order_by_module`` with it; that list is the
registration order the driver's correctness window reads.

A fragment or helper used by more than one plan module lives here, so
the modules never import each other.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import _HLL_M, _HLL_RHO_MAX, _HLL_W_NIBBLES
from ..sources.catalog import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load + spread across the session's full parallelism. The doc/
    embedding test files are single-row-group parquet (one scan
    partition), so compute-dense per-row pipelines (shingling, hashing,
    vector math) would otherwise run in ONE task — and broadcast joins
    keep that layout downstream. The repartition round-robins the
    (small) table once; at real scale the scan is already
    multi-partition and this is a no-op choice, the operators
    themselves stay partitioning-agnostic."""
    df = load_table(spark, sf_dir, name)
    return df.repartition(spark.sparkContext.defaultParallelism)


def order_by_module(modules: Sequence[ModuleType]) -> None:
    """Re-key ``QUERIES`` and ``ORACLE`` module by module in ``modules``
    order, keeping definition order within a module, whatever order the
    modules were first imported in. Raises ``KeyError`` for an entry
    registered by a module missing from ``modules``."""
    rank = {m.__name__: i for i, m in enumerate(modules)}
    for reg in (QUERIES, ORACLE):
        items = sorted(reg.items(), key=lambda kv: rank[QUERIES[kv[0]].__module__])
        reg.clear()
        reg.update(items)


# ---------------------------------------------------------------------------
# Hex digits (DuckDB has no base-16 cast)
# ---------------------------------------------------------------------------


def _hex_int_sql(hx: str, n: int, p: int | str = 1) -> str:
    """DuckDB integer value of the ``n`` hex nibbles of the hex-string
    expression ``hx`` that start at 1-based position ``p`` (an int or an
    SQL expression). Each nibble is its index in the hex alphabet,
    folded most significant first: ``(((d1 * 16 + d2) * 16 + d3) ...)``.
    The Spark twin is ``conv(substring(hx, p, n), 16, 10)``; salted md5
    prefixes mirror ``operators/sampling.py::_md5_byte0`` (n=2),
    ``_md5_uint16`` (n=4) and ``operators/sketch.py::kmv_hash`` (n=12)."""

    def nibble(k: int) -> str:
        pos = p + k if isinstance(p, int) else (f"{p} + {k}" if k else p)
        return f"(instr('0123456789abcdef', substr({hx}, {pos}, 1)) - 1)"

    acc = nibble(0)
    for k in range(1, n):
        acc = f"({acc} * 16 + {nibble(k)})"
    return acc


# md5 split byte of doc_split_counts (salt "split:"), reused by every
# oracle that replays the train/val/test split
_SPLIT_BYTE = _hex_int_sql("md5('split:' || CAST(doc_id AS VARCHAR))", 2)

# A/B arm of a user (salt "ab:"), shared by the experiment entries
_AB_VARIANT_SQL = (
    "CASE WHEN "
    + _hex_int_sql("md5('ab:' || CAST(user_id AS VARCHAR))", 2)
    + " % 2 = 0 THEN 'A' ELSE 'B' END"
)


# ---------------------------------------------------------------------------
# Text, shingles and near-dup verification (documents table)
# ---------------------------------------------------------------------------

_STOP_SQL = "('the', 'a', 'an', 'and', 'of', 'to', 'in', 'is', 'it')"

_LANG_KEYWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "it", "a", "an"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "nicht"),
}
_KW_SQL = {
    lang: "(" + ", ".join(f"'{w}'" for w in kws) + ")"
    for lang, kws in _LANG_KEYWORDS.items()
}

_SHINGLE_CTE = """
    toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), sh AS (
      SELECT doc_id, pos,
             token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w
               AS shingle
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), shf AS (SELECT doc_id, pos, shingle FROM sh WHERE shingle IS NOT NULL)
"""

_MINHASH_MINS = ",\n           ".join(
    f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(8)
)


def _near_dup_tail(
    n_hashes: int = 8, band_size: int = 2, as_cte: bool = False
) -> str:
    """SQL tail shared by the near-dup entries, parameterized by band
    layout (must mirror ``operators/dedup.py::lsh_candidate_pairs``:
    band value = md5 of the '|'-joined member hashes). ``as_cte`` wraps
    the final select as ``pairs AS (...)`` (no ORDER BY) so downstream
    CTEs — e.g. the recursive component closure — can compose on it."""
    n_bands = n_hashes // band_size
    band_case = " ".join(
        "WHEN {b} THEN md5({parts})".format(
            b=b,
            parts=" || '|' || ".join(
                f"mh_{b * band_size + j}" for j in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    band_values = ", ".join(f"({b})" for b in range(n_bands))
    final = """
    SELECT c.id_a AS id_a, c.id_b AS id_b,
           round(coalesce(i.n_inter, 0) * 10000.0
                 / (za.n + zb.n - coalesce(i.n_inter, 0))) / 10000.0 AS jaccard
    FROM cand c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes za ON za.doc_id = c.id_a
    JOIN sizes zb ON zb.doc_id = c.id_b"""
    tail = (
        f",\n    pairs AS ({final}\n    )"
        if as_cte
        else f"{final}\n    ORDER BY c.id_a, c.id_b"
    )
    return f"""
    sig AS (
      SELECT doc_id,
           {_MINHASH_MINS}
      FROM shf GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, bb.band,
             CASE bb.band {band_case} END AS band_val
      FROM sig, (VALUES {band_values}) bb(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT DISTINCT doc_id, shingle FROM shf),
    sizes AS (SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.id_a
      JOIN sets sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY c.id_a, c.id_b
    ){tail}
"""


_SEG = 10  # tokens per non-overlapping segment

# Shared CTE: one row per (doc, segment) with the segment's text,
# md5 hash, and token length. Mirrors the Spark-side sequence→explode→
# slice chunker (same arithmetic as doc_overlap_chunks with
# width == stride, so the tail segment is short, never overlapping).
_SEGMENT_CTE = f"""
    t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
          FROM documents),
    n AS (SELECT doc_id, source, toks,
                 (greatest(len(toks) - {_SEG}, 0) + {_SEG} - 1)
                   // {_SEG} + 1 AS nseg
          FROM t),
    segx AS (
      SELECT doc_id, source, toks,
             unnest(generate_series(0, nseg - 1)) AS seg_id
      FROM n
    ),
    seg AS (
      SELECT doc_id, source, CAST(seg_id AS BIGINT) AS seg_id,
             array_to_string(
               toks[seg_id * {_SEG} + 1 : seg_id * {_SEG} + {_SEG}], ' ')
               AS seg_text,
             CAST(len(toks[seg_id * {_SEG} + 1 : seg_id * {_SEG} + {_SEG}])
                  AS BIGINT) AS seg_len
      FROM segx
    ),
    segh AS (SELECT doc_id, source, seg_id, seg_text, seg_len,
                    md5(seg_text) AS seg_hash
             FROM seg)
"""


_ROUNDS = 4


def _merge_round_ctes(r: int) -> str:
    """CTE block for merge round ``r``: in-row adjacent pairs of the
    previous round's token lists, exact-integer counts, the (cnt DESC,
    a ASC, b ASC) top-1, and the greedy left-fold rewrite (sentinel
    [NULL] seed keeps the accumulator list-typed; ``acc[len(acc)]`` on
    the sentinel is NULL, which never equals a real symbol — unlike
    '', which string_split DOES emit for leading/double spaces
    (ADVICE r4) — mirroring Spark's NULL-seeded ``F.aggregate``)."""
    prev = r - 1
    return f"""pr{r} AS (
      SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
      FROM tok{prev}
    ),
    cnt{r} AS (
      SELECT z[1] AS a, z[2] AS b, CAST(count(*) AS BIGINT) AS cnt
      FROM pr{r} GROUP BY 1, 2
    ),
    top{r} AS (
      SELECT a, b, cnt FROM cnt{r}
      ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
    ),
    tok{r} AS (
      SELECT doc_id,
             list_reduce([[NULL]] || list_transform(t.toks, s -> [s]),
               (acc, x) -> CASE WHEN acc[len(acc)] = p.a AND x[1] = p.b
                                THEN acc[1:len(acc)-1]
                                     || [p.a || ' ' || p.b]
                                ELSE acc || x END)[2:] AS toks
      FROM tok{prev} t CROSS JOIN top{r} p
    ),
    tt{r} AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS t FROM tok{r})"""


_BPE_CTES = ",\n    ".join(
    ["tok0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)"]
    + [_merge_round_ctes(r) for r in range(1, _ROUNDS + 1)]
)


# ---------------------------------------------------------------------------
# Embeddings: cosine base, k-means and product quantization
# ---------------------------------------------------------------------------

_EMB_BASE = """
    base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
"""


def _kmeans_oracle_ctes(n_iters: int, k: int = 8, round_to: int = 6) -> str:
    """Unrolled Lloyd's-iteration CTE chain (DuckDB) mirroring
    ``similarity.kmeans_fit(k, n_iters)`` — the same fixed-iteration
    unrolling trick the pagerank oracle uses. Per iteration: argmin
    squared-L2 assignment (d2 ASC, cluster ASC tie-break — numpy
    argmin's first-minimum under bitwise-equal ties), per-(cluster,
    dim) mean rounded via scale-then-divide, empty clusters keeping
    the previous centroid (the LEFT JOIN coalesce). kmeans_fit's
    early-stop is a rounded FIXPOINT check, so running all
    ``n_iters`` unconditionally computes identical centroids — the
    update is the identity from the fixpoint on. Ends with ``afin``:
    (vec_id, cluster, d2) under the final centroids.

    DETERMINISM (ADVICE r3): d2 is QUANTIZED to ``round_to`` decimals
    before the argmin on BOTH sides — the raw values are not
    bitwise-comparable cross-engine (the Spark kernel expands
    |v|²−2v·c+|c|², this CTE sums (x−c)² directly, and the two
    re-associate differently), so a vector near-equidistant to two
    centroids could otherwise flip assignment. Post-quantization the
    engines agree except when a raw d2 sits within ~1 ulp of a
    10^-round_to boundary; genuine near-ties resolve by the shared
    (d2 ASC, cluster ASC) tie-break."""
    s = 10 ** round_to
    parts = [
        f"""vx AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    seed AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster
      FROM embeddings ORDER BY vec_id ASC LIMIT {k}
    ),
    c0 AS (
      SELECT s.cluster, v.d, round(v.x * {s}.0) / {s}.0 AS c
      FROM seed s JOIN vx v USING (vec_id)
    )"""
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"""d{i} AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM vx v JOIN c{i - 1} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    a{i} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM d{i}
      ) WHERE rn = 1
    ),
    c{i} AS (
      SELECT p.cluster, p.d,
             coalesce(round(m.c * {s}.0) / {s}.0, p.c) AS c
      FROM c{i - 1} p
      LEFT JOIN (
        SELECT a.cluster, v.d, avg(v.x) AS c
        FROM a{i} a JOIN vx v USING (vec_id)
        GROUP BY a.cluster, v.d
      ) m ON m.cluster = p.cluster AND m.d = p.d
    )"""
        )
    parts.append(
        f"""dfin AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM vx v JOIN c{n_iters} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    afin AS (
      SELECT vec_id, cluster, d2 FROM (
        SELECT vec_id, cluster, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM dfin
      ) WHERE rn = 1
    )"""
    )
    return ",\n    ".join(parts)


_M = 4  # subspaces
_DSUB = 16  # dims per subspace (64 / 4)
_PQ_K = 4  # codes per subspace
_RT = 6  # d2 / centroid quantization decimals (the kmeans contract)


def _adc_table(
    qvec: list[float], codebooks: list[list[list[float]]], round_to: int = _RT
) -> list[list[float]]:
    """m×k ADC table: subspace-j squared distance from the query to
    each code centroid, folded left-to-right over the dsub dims (the
    oracle's sum() re-associates, so quantize at the shared 1e-6 grid
    — the same contract the codebooks themselves ride)."""
    from ..operators.similarity import _round_half_away_scalar

    dsub = len(codebooks[0][0])
    table: list[list[float]] = []
    for j, cb in enumerate(codebooks):
        row = []
        for cvec in cb:
            acc = 0.0
            for d in range(dsub):
                diff = qvec[j * dsub + d] - cvec[d]
                acc += diff * diff
            row.append(_round_half_away_scalar(acc, round_to))
        table.append(row)
    return table


def _adc_col(table: list[list[float]]):
    """Left-to-right sum of the per-subspace table lookups over a
    ``codes`` array column — spelled identically to the oracle's
    ``q0.t + q1.t + …`` so the unrounded doubles match bitwise."""
    t_lits = [F.array(*[F.lit(v) for v in row]) for row in table]
    col = F.element_at(t_lits[0], F.col("codes")[0] + 1)
    for j in range(1, len(table)):
        col = col + F.element_at(t_lits[j], F.col("codes")[j] + 1)
    return col


def _pq_subspace_ctes(j: int, *, k: int, n_iters: int, round_to: int) -> str:
    """Unrolled Lloyd chain for subspace ``j`` over the sliced list
    ``embedding[lo:hi]`` — a parametrized twin of
    ``_kmeans_oracle_ctes`` (same quantized-d2 argmin,
    lowest-cluster tie-break, per-iteration rounded means, empty
    clusters keeping the previous centroid, and the rounded-fixpoint
    early-stop argument). Emits ``vx{j}`` … ``afin{j}`` and the final
    centroid CTE ``c{j}_{n_iters}``; the shared ``seedq`` CTE (lowest-k
    vec_ids) must already be in scope."""
    s = 10**round_to
    lo, hi = j * _DSUB + 1, (j + 1) * _DSUB
    parts = [
        f"""vx{j} AS (
      SELECT vec_id, generate_subscripts(embedding[{lo}:{hi}], 1) AS d,
             CAST(unnest(embedding[{lo}:{hi}]) AS DOUBLE) AS x
      FROM embeddings
    ),
    c{j}_0 AS (
      SELECT sq.cluster, v.d, round(v.x * {s}.0) / {s}.0 AS c
      FROM seedq sq JOIN vx{j} v USING (vec_id)
    )"""
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"""d{j}_{i} AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM vx{j} v JOIN c{j}_{i - 1} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    a{j}_{i} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM d{j}_{i}
      ) WHERE rn = 1
    ),
    c{j}_{i} AS (
      SELECT p.cluster, p.d,
             coalesce(round(m.c * {s}.0) / {s}.0, p.c) AS c
      FROM c{j}_{i - 1} p
      LEFT JOIN (
        SELECT a.cluster, v.d, avg(v.x) AS c
        FROM a{j}_{i} a JOIN vx{j} v USING (vec_id)
        GROUP BY a.cluster, v.d
      ) m ON m.cluster = p.cluster AND m.d = p.d
    )"""
        )
    parts.append(
        f"""dfin{j} AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM vx{j} v JOIN c{j}_{n_iters} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    afin{j} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM dfin{j}
      ) WHERE rn = 1
    ),
    qt{j} AS (
      SELECT c.cluster,
             round(sum((qx.x - c.c) * (qx.x - c.c)) * {s}.0) / {s}.0 AS t
      FROM vx{j} qx
      JOIN qv ON qx.vec_id = qv.qid
      JOIN c{j}_{n_iters} c USING (d)
      GROUP BY c.cluster
    )"""
    )
    return ",\n    ".join(parts)


# ---------------------------------------------------------------------------
# Sketches: KMV, HyperLogLog, count-min
# ---------------------------------------------------------------------------

_K = 64
# (k-1) · 2^48 — 6 significant bits, exactly representable as DOUBLE;
# one literal shared by both engines so the estimate is ONE division.
_KMV_SCALE = f"{(_K - 1) << 48}.0"

# --- DuckDB spelling of the HLL register/rho derivation ---------------------
# Shares every constant with operators/sketch.py so the two sides are
# the SAME algorithm: first md5 byte = register, rank of the next 48
# bits from the hex string (anchored regexp strip of leading zero
# nibbles + a 4-case first-nibble table), integer register fold.

# the register index + leading-zero-stripped rank window, as select-list
# fragments over a column named h (both HLL oracles build on these —
# ONE spelling of the subtle rank derivation, so a future fix cannot
# desynchronize the two declared oracles)
_REG_EXPR = _hex_int_sql("h", 2)
_T_EXPR = f"regexp_replace(substr(h, 3, {_HLL_W_NIBBLES}), '^0+', '')"
_D = _hex_int_sql("t", 1)
_RHO_CASE = f"""CASE WHEN length(t) = 0 THEN {_HLL_RHO_MAX}
                  ELSE ({_HLL_W_NIBBLES} - length(t)) * 4
                       + CASE WHEN {_D} >= 8 THEN 0
                              WHEN {_D} >= 4 THEN 1
                              WHEN {_D} >= 2 THEN 2
                              ELSE 3 END + 1 END"""


def _fold_cte_sql(group: str, src: str) -> str:
    """The exact-BIGINT harmonic fold over a (group, reg, mr) source:
    SELECT body producing (group, n_registers, sum_int, v)."""
    return f"""
      SELECT {group},
             CAST(count(*) AS BIGINT) AS n_registers,
             sum(CAST(1 AS BIGINT) << ({_HLL_RHO_MAX} - mr))
               + ({_HLL_M} - count(*))
                 * (CAST(1 AS BIGINT) << {_HLL_RHO_MAX}) AS sum_int,
             {_HLL_M} - count(*) AS v
      FROM {src} GROUP BY {group}"""


def _hll_sql(expr: str, group: str, table: str, where: str) -> str:
    h = f"md5('hll:' || {expr})"
    return f"""
    hashed AS (
      SELECT {group}, {_REG_EXPR} AS reg, {_T_EXPR} AS t
      FROM (SELECT {group}, {h} AS h FROM {table} WHERE {where})
    ),
    rho AS (
      SELECT {group}, reg, {_RHO_CASE} AS rho FROM hashed
    ),
    regs AS (
      SELECT {group}, reg, max(rho) AS mr FROM rho GROUP BY {group}, reg
    ),
    folded AS ({_fold_cte_sql(group, "regs")}
    )"""


# count-min bucket of token {tok} in row {j} (a .format template): the
# first md5 byte of 'cms:<j>:<token>', as operators/sketch.py::cms_build
_CMS_BUCKET = _hex_int_sql("md5('cms:' || CAST({j} AS VARCHAR) || ':' || {tok})", 2)


# ---------------------------------------------------------------------------
# Curation funnel head (shared by the two curation oracles)
# ---------------------------------------------------------------------------

# Gate thresholds of the curation oracles: the quality_gate operator
# defaults (Gopher/C4-style first pass), which at the driver corpus
# reject a meaningful slice (~45% at sf0.01) while leaving the
# near-dup stage real work. The pipeline normalizes FIRST, so every
# stat below is computed on the normalized text — mirrored exactly in
# the oracle's `norm` CTE (lower → strip [.,!?;:] → collapse ws →
# trim, all with DuckDB's 'g' flag: Spark regexp_replace is global).
_MIN_TOKENS, _MAX_TOKENS = 30, 80
_MIN_ATL, _MAX_ATL = 2.0, 12.0
_MAX_SWR, _MAX_PR = 0.12, 0.2

# Shared funnel head (normalize → gated stats → exact survivors):
# spelled ONCE and composed by both curation oracles
# (curation_pipeline_survivors and its keep-best × segment-dedup
# variant curation_keepbest_survivors), so a gate-spelling or
# threshold change cannot silently decouple them (code-review r7).
_CURATION_HEAD_SQL = f"""norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
                                 '\\s+', ' ', 'g')) AS nt
      FROM documents
    ),
    stats AS (
      -- token_stats on the NORMALIZED text, ratios display-rounded to
      -- 4 dp BEFORE the threshold compare (the operator gates on its
      -- rounded output columns — mirror or boundary docs flip).
      SELECT doc_id, nt,
             len(string_split(nt, ' ')) AS tc,
             round(((length(nt) - (len(string_split(nt, ' ')) - 1))::DOUBLE
                   / len(string_split(nt, ' '))) * 10000.0) / 10000.0 AS atl,
             round((len(list_filter(string_split(nt, ' '), t -> t IN {_STOP_SQL}))::DOUBLE
                   / len(string_split(nt, ' '))) * 10000.0) / 10000.0 AS swr,
             round((CASE WHEN length(nt) > 0
                         THEN len(regexp_extract_all(nt, '[.,!?;:]'))::DOUBLE
                              / length(nt)
                    END) * 10000.0) / 10000.0 AS pr
      FROM norm
    ),
    gate AS (
      -- NULL stats (NULL/empty text) route to REJECT, as the
      -- pipeline's coalesce(passed, FALSE) does.
      SELECT doc_id, nt,
             coalesce(tc BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
                      AND atl BETWEEN {_MIN_ATL} AND {_MAX_ATL}
                      AND swr <= {_MAX_SWR} AND pr <= {_MAX_PR},
                      FALSE) AS passed
      FROM stats
    ),
    passed AS (SELECT doc_id, nt FROM gate WHERE passed),
    hsurv AS (SELECT min(doc_id) AS doc_id FROM passed GROUP BY md5(nt)),
    exact AS (SELECT doc_id, nt FROM passed
              WHERE doc_id IN (SELECT doc_id FROM hsurv))"""
