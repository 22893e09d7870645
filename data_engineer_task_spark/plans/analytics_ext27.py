"""Twenty-eighth batch: product quantization — the embedding-
compression half of a production IVF-PQ ANN index (Jégou et al.),
declared end-to-end: train m subspace codebooks, encode the corpus to
m small integer codes, and answer a query by ADC (asymmetric distance
computation — m table lookups summed, the raw vectors never touched).

Reference scope note: the reference (``coded4alex/data_engineer_task``)
has no vector operators (SURVEY §2.5); this extends the engine for the
100 TB embedding workload, where the codes column (64 floats → 4 bytes
here) replaces raw embeddings for candidate scoring and exact
re-ranking touches only the final shortlist.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match. The
oracle unrolls each subspace's Lloyd iterations as chained CTEs (the
``_kmeans_oracle_ctes`` pattern) over the SLICED embedding list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import _M, _PQ_K, _RT, _adc_col, _adc_table, _pq_subspace_ctes, _t, q

_PQ_ITERS = 2
_TOPK = 10


_PQ_CTES = ",\n    ".join(
    [
        f"""seedq AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster
      FROM embeddings ORDER BY vec_id ASC LIMIT {_PQ_K}
    ),
    qv AS (SELECT min(vec_id) AS qid FROM embeddings)"""
    ]
    + [
        _pq_subspace_ctes(j, k=_PQ_K, n_iters=_PQ_ITERS, round_to=_RT)
        for j in range(_M)
    ]
)


@q(
    "embedding_pq_adc_topk",
    f"""
    WITH {_PQ_CTES},
    adc AS (
      SELECT a0.vec_id,
             q0.t + q1.t + q2.t + q3.t AS adc
      FROM afin0 a0
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
    WHERE t.rank <= {_TOPK}
    ORDER BY t.rank
    """,
)
def embedding_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ's compression half, end-to-end: train {_M}×{_PQ_K}
    subspace codebooks (2 Lloyd iterations each, the deterministic
    ``kmeans_fit`` contract), PQ-encode the corpus (64 floats → 4
    codes, one map-only Arrow pass), then answer the lowest-vec_id
    query by ADC — its m×k subspace-distance table is built ONCE on
    the driver and each candidate costs m integer lookups summed, the
    raw vectors never rescanned. Top-{_TOPK} by (adc ASC, vec_id ASC)
    with the exact squared L2 alongside (the re-ranking truth,
    computed only for the shortlist).

    100 TB shape: codebooks/table are O(m·k·d) closure state; encode
    and ADC are map-only corpus scans over the CODES column (16× to
    64× smaller than raw vectors); exact math touches top-k rows.

    DETERMINISM: codes ride the quantized-d2 argmin contract
    (``_assign_to_centroids``/ADVICE r3 — residual kmeans-class
    boundary risk, documented in COVERAGE.md); the ADC sum folds the
    SAME quantized table values in the SAME left-to-right order on
    both engines (bitwise-identical doubles), and exact_d2 folds
    in-row (`F.aggregate` ↔ `list_reduce`, both left folds), so rank
    and both display columns agree given code agreement."""
    from ..operators.similarity import as_double, pq_encode, pq_fit

    emb = _t(spark, sf_dir, "embeddings")
    codebooks = pq_fit(
        emb, "vec_id", "embedding", m=_M, k=_PQ_K, n_iters=_PQ_ITERS,
        round_to=_RT,
    )
    encoded = pq_encode(
        emb, "vec_id", "embedding", codebooks, round_to=_RT
    )

    qrow = (
        emb.select("vec_id", as_double(F.col("embedding")).alias("_v"))
        .orderBy("vec_id")
        .limit(1)
        .collect()[0]
    )
    qvec = [float(x) for x in qrow["_v"]]
    adc_col = _adc_col(_adc_table(qvec, codebooks))
    qlit = F.array(*[F.lit(x) for x in qvec])
    # orderBy + limit plans as TakeOrderedAndProject (per-partition
    # top-k + driver merge, no global sort); the rank window then runs
    # over the 10 surviving rows only.
    topk = (
        encoded.select("vec_id", adc_col.alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(_TOPK)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.asc("adc"), F.asc("vec_id"))),
        )
    )
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
