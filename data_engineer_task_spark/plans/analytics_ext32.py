"""Thirty-third batch: the END-TO-END curation pipeline as a
hash-gated entry (VERDICT r5 item 1).

Every stage of ``plans/curation.py::CurationPipeline`` is individually
driver-green (gate / exact dedup / MinHash-LSH near-dup / connected
components / hash split), but the COMPOSITION — survivor-rule
interactions, the normalized-text dedup key flowing through all
stages, funnel conservation — is exactly where integration bugs live.
``curation_pipeline_survivors`` runs the pipeline's side-effect-free
``classify()`` surface (pinned row-for-row against ``run()`` by
``tests/test_curation.py``) over the driver's documents table and
labels every document with its outcome; the oracle replays the whole
funnel as one CTE chain composed from the already-proven per-stage
SQL (token-stats gate from ``doc_token_stats``, min-id content-hash
survivors, the ``_near_dup_tail`` MinHash/LSH/verify chain, the
recursive-CTE component closure from ``near_dup_clusters``, and the
``_SPLIT_BYTE`` md5 split from ``doc_split_counts``).

Reference scope note: this is the training-data analog of the
reference's whole-ETL driver (``task.py:276-303``) — the "one call
runs my corpus through the standard cleanup" surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .registry import (
    _CURATION_HEAD_SQL,
    _MAX_ATL,
    _MAX_PR,
    _MAX_SWR,
    _MAX_TOKENS,
    _MIN_ATL,
    _MIN_TOKENS,
    _SPLIT_BYTE,
    _near_dup_tail,
    _t_wide,
    q,
)

_NEAR_DUP_THRESHOLD = 0.6

_CURATION_SQL = f"""
    WITH RECURSIVE
    {_CURATION_HEAD_SQL},
    toks AS (
      SELECT doc_id, unnest(string_split(nt, ' ')) AS token,
             generate_subscripts(string_split(nt, ' '), 1) AS pos
      FROM exact
    ), sh AS (
      SELECT doc_id, pos,
             token || ' ' || lead(token, 1) OVER w || ' '
                   || lead(token, 2) OVER w AS shingle
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), shf AS (SELECT doc_id, pos, shingle FROM sh WHERE shingle IS NOT NULL),
    {_near_dup_tail(band_size=2, as_cte=True)},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs WHERE jaccard >= {_NEAR_DUP_THRESHOLD}
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs WHERE jaccard >= {_NEAR_DUP_THRESHOLD}
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    ),
    lab AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
    losers AS (SELECT node AS doc_id FROM lab WHERE node <> cluster),
    kept AS (SELECT doc_id FROM exact
             WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
    outs AS (
      SELECT doc_id, 'rejected:quality_gate' AS outcome FROM gate WHERE NOT passed
      UNION ALL
      SELECT doc_id, 'rejected:exact_dedup' AS outcome FROM passed
       WHERE doc_id NOT IN (SELECT doc_id FROM hsurv)
      UNION ALL
      SELECT doc_id, 'rejected:near_dedup' AS outcome FROM losers
      UNION ALL
      SELECT doc_id, CASE WHEN b < 204 THEN 'split:train'
                          WHEN b < 230 THEN 'split:val'
                          ELSE 'split:test' END AS outcome
      FROM (SELECT doc_id, {_SPLIT_BYTE} AS b FROM kept)
    )
    SELECT doc_id, outcome FROM outs ORDER BY doc_id
"""


@q("curation_pipeline_survivors", _CURATION_SQL)
def curation_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composition: normalize → quality gate → exact
    dedup → MinHash-LSH near-dup (keep-first) → md5 split, one outcome
    row per input document (funnel conservation: |out| == |in|, every
    doc labeled exactly once). Runs the REAL pipeline object — not a
    re-spelling of its stages — so the entry certifies the surface a
    user actually calls.

    Scale shape: every stage is the already-audited operator (map-only
    gate, digest-only exact shuffle, banded LSH — never all-pairs,
    metadata-scale component closure, map-only split); the composition
    adds only semi/anti joins on the id column."""
    from .curation import CurationConfig, CurationPipeline

    docs = _t_wide(spark, sf_dir, "documents")
    cfg = CurationConfig(
        min_tokens=_MIN_TOKENS,
        max_tokens=_MAX_TOKENS,
        min_avg_token_len=_MIN_ATL,
        max_avg_token_len=_MAX_ATL,
        max_stopword_ratio=_MAX_SWR,
        max_punct_ratio=_MAX_PR,
        near_dup_threshold=_NEAR_DUP_THRESHOLD,
    )
    pipe = CurationPipeline(spark, config=cfg)
    return pipe.classify(docs.select("doc_id", "text")).orderBy("doc_id")
