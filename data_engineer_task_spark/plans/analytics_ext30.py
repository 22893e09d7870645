"""Thirty-first batch: IVF-PQ composed ANN search — the production
index shape end-to-end: a coarse k-means quantizer prunes the corpus
to the query's nprobe nearest cells, and the surviving candidates are
scored by PQ asymmetric distance (m table lookups each) with the exact
squared L2 alongside for the shortlist.

Reference scope note: the reference (``coded4alex/data_engineer_task``)
has no vector operators (SURVEY §2.5); this composes the engine's IVF
(analytics.py kmeans entries) and PQ (analytics_ext27.py) halves into
the index a 100 TB embedding corpus actually serves from: index build =
one coarse assignment + one PQ encode over the corpus (both map-only
against O(k·d) closure state); search = cell pruning BEFORE any
per-vector math, then integer code lookups, then exact re-rank on the
top-k only.

Same contract as plans/analytics.py. The oracle chains the coarse
Lloyd unrolling (``g``-prefixed CTEs over the full 64 dims) with the
per-subspace PQ unrolling imported from analytics_ext27.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import _M, _PQ_K, _RT, _adc_col, _adc_table, _pq_subspace_ctes, _t, q

_COARSE_K = 4  # coarse cells (seedq's LIMIT is shared with PQ's k)
_COARSE_ITERS = 2
_IVFPQ_PQ_ITERS = 1  # one Lloyd step per subspace bounds the job count
_NPROBE = 2
_K_OUT = 5


def _coarse_ctes(*, k: int, n_iters: int, round_to: int) -> str:
    """Unrolled coarse-quantizer Lloyd chain over the FULL embedding
    (``g`` prefix; same quantized-d2 argmin / rounded-means /
    empty-cluster-keeps-previous contract as ``_kmeans_oracle_ctes``),
    ending with ``gafin`` (vec_id → coarse cell), ``gqt`` (query →
    cell distance, quantized) and ``gprobe`` (the nprobe nearest
    cells, (t ASC, cluster ASC))."""
    s = 10**round_to
    parts = [
        f"""gx AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    gc0 AS (
      SELECT sq.cluster, v.d, round(v.x * {s}.0) / {s}.0 AS c
      FROM seedq sq JOIN gx v USING (vec_id)
    )"""
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"""gd{i} AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM gx v JOIN gc{i - 1} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    ga{i} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM gd{i}
      ) WHERE rn = 1
    ),
    gc{i} AS (
      SELECT p.cluster, p.d,
             coalesce(round(m.c * {s}.0) / {s}.0, p.c) AS c
      FROM gc{i - 1} p
      LEFT JOIN (
        SELECT a.cluster, v.d, avg(v.x) AS c
        FROM ga{i} a JOIN gx v USING (vec_id)
        GROUP BY a.cluster, v.d
      ) m ON m.cluster = p.cluster AND m.d = p.d
    )"""
        )
    parts.append(
        f"""gdfin AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM gx v JOIN gc{n_iters} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    gafin AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM gdfin
      ) WHERE rn = 1
    ),
    gqt AS (
      SELECT c.cluster,
             round(sum((qx.x - c.c) * (qx.x - c.c)) * {s}.0) / {s}.0 AS t
      FROM gx qx
      JOIN qv ON qx.vec_id = qv.qid
      JOIN gc{n_iters} c USING (d)
      GROUP BY c.cluster
    ),
    gprobe AS (
      SELECT cluster FROM gqt ORDER BY t ASC, cluster ASC LIMIT {_NPROBE}
    )"""
    )
    return ",\n    ".join(parts)


_IVFPQ_CTES = ",\n    ".join(
    [
        f"""seedq AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster
      FROM embeddings ORDER BY vec_id ASC LIMIT {_PQ_K}
    ),
    qv AS (SELECT min(vec_id) AS qid FROM embeddings)"""
    ]
    + [_coarse_ctes(k=_COARSE_K, n_iters=_COARSE_ITERS, round_to=_RT)]
    + [
        _pq_subspace_ctes(j, k=_PQ_K, n_iters=_IVFPQ_PQ_ITERS, round_to=_RT)
        for j in range(_M)
    ]
)


@q(
    "embedding_ivfpq_topk",
    f"""
    WITH {_IVFPQ_CTES},
    cand AS (
      SELECT vec_id FROM gafin
      WHERE cluster IN (SELECT cluster FROM gprobe)
    ),
    adc AS (
      SELECT a0.vec_id,
             q0.t + q1.t + q2.t + q3.t AS adc
      FROM cand
      JOIN afin0 a0 USING (vec_id)
      JOIN afin1 a1 USING (vec_id)
      JOIN afin2 a2 USING (vec_id)
      JOIN afin3 a3 USING (vec_id)
      JOIN qt0 q0 ON q0.cluster = a0.cluster
      JOIN qt1 q1 ON q1.cluster = a1.cluster
      JOIN qt2 q2 ON q2.cluster = a2.cluster
      JOIN qt3 q3 ON q3.cluster = a3.cluster
    ),
    topk AS (
      SELECT vec_id, adc,
             row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS rank
      FROM adc
    )
    SELECT t.rank AS rank, t.vec_id,
           round(t.adc * 1000000.0) / 1000000.0 AS adc_d2,
           round(list_reduce(
             list_transform(range(1, 65),
               i -> (CAST(e.embedding[i] AS DOUBLE)
                     - CAST(qe.embedding[i] AS DOUBLE))
                    * (CAST(e.embedding[i] AS DOUBLE)
                       - CAST(qe.embedding[i] AS DOUBLE))),
             (a, b) -> a + b) * 1000000.0) / 1000000.0 AS exact_d2
    FROM topk t
    JOIN embeddings e ON e.vec_id = t.vec_id
    CROSS JOIN (
      SELECT e2.embedding FROM embeddings e2 JOIN qv ON e2.vec_id = qv.qid
    ) qe
    WHERE t.rank <= {_K_OUT}
    ORDER BY t.rank
    """,
)
def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ index, built and searched in one declared plan:
    a {_COARSE_K}-cell coarse quantizer ({_COARSE_ITERS} Lloyd
    iterations) assigns every vector to a cell; PQ ({_M}×{_PQ_K}
    codebooks, {_IVFPQ_PQ_ITERS} Lloyd step per subspace) encodes every
    vector to {_M} codes; the lowest-vec_id query then probes its
    {_NPROBE} nearest cells and scores ONLY those candidates by ADC,
    returning the top-{_K_OUT} with the exact squared L2 re-rank
    column.

    100 TB shape: index build = two map-only corpus passes (coarse
    assign + encode) against O(k·d) closure state; search touches the
    probed cells' code rows only — pruning happens on the CLUSTER KEY
    before any per-vector arithmetic, and raw vectors are read only
    for the final top-k rows. DETERMINISM: every argmin/rank rides
    the quantized-d2 contract (kmeans-class residual documented in
    COVERAGE.md); probe selection, ADC sums, and the exact fold are
    spelled identically on both engines ((t ASC, cluster ASC) probe
    tie-break, left-to-right lookup sums, `F.aggregate` ↔
    `list_reduce` folds)."""
    from ..operators.similarity import (
        _round_half_away_scalar,
        as_double,
        kmeans_fit,
        pq_encode,
        pq_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")

    # index build: coarse cells + PQ codes (both corpus-wide)
    coarse_cbs, assigned = kmeans_fit(
        emb, "vec_id", "embedding", k=_COARSE_K, n_iters=_COARSE_ITERS,
        round_to=_RT,
    )
    codebooks = pq_fit(
        emb, "vec_id", "embedding", m=_M, k=_PQ_K,
        n_iters=_IVFPQ_PQ_ITERS, round_to=_RT,
    )
    encoded = pq_encode(
        emb, "vec_id", "embedding", codebooks, round_to=_RT
    )

    # query + probe: O(k·d) driver arithmetic, same quantized grid
    qrow = (
        emb.select("vec_id", as_double(F.col("embedding")).alias("_v"))
        .orderBy("vec_id")
        .limit(1)
        .collect()[0]
    )
    qvec = [float(x) for x in qrow["_v"]]
    cell_d = []
    for ci, cvec in enumerate(coarse_cbs):
        acc = 0.0
        for d in range(len(qvec)):
            diff = qvec[d] - cvec[d]
            acc += diff * diff
        cell_d.append((_round_half_away_scalar(acc, _RT), ci))
    probes = [ci for _, ci in sorted(cell_d)[:_NPROBE]]

    cand = assigned.where(F.col("cluster").isin(probes)).select("vec_id")
    adc_col = _adc_col(_adc_table(qvec, codebooks))
    topk = (
        encoded.join(cand, "vec_id", "semi")
        .select("vec_id", adc_col.alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(_K_OUT)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.asc("adc"), F.asc("vec_id"))),
        )
    )
    qlit = F.array(*[F.lit(x) for x in qvec])
    exact_d2 = F.aggregate(
        F.zip_with(
            as_double(F.col("embedding")),
            qlit,
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        topk.join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "rank",
            "vec_id",
            (F.round(F.col("adc") * 1000000.0) / 1000000.0).alias("adc_d2"),
            (F.round(exact_d2 * 1000000.0) / 1000000.0).alias("exact_d2"),
        )
        .orderBy("rank")
    )
