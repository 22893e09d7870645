"""Thirty-fourth batch: the curation pipeline's VARIANT-FLAG
composition as a hash-gated entry (VERDICT r6 item 1).

The base funnel (gate → exact → near-dup keep-first → split) went
driver-green in r6 (``analytics_ext32.py``); what stayed pytest-only
were the variant flags — ``near_dup_keep='best'`` and
``segment_dedup=True`` — whose INTERACTION (survivor selection runs on
clusters built from segment-REWRITTEN text, scored by the ORIGINAL
text length) is exactly the integration habitat the r5/r6 briefs
called out. ``curation_keepbest_survivors`` runs the real
``CurationPipeline.classify()`` with both flags on; the oracle replays
the six-stage funnel as one CTE chain composed from per-stage SQL that
is individually driver-green already: the normalize+gate+exact head
from ``curation_pipeline_survivors``, the keep-first segment rewrite
from ``doc_segment_dedup_rewrite``, the MinHash/LSH/verify tail
(``_near_dup_tail``), the recursive component closure, and the
cluster-window argmax from ``near_dup_keep_best``.

Reference scope note: the variant analog of the reference ETL driver's
"one call, configured" surface (``task.py:276-303``).
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

_SEG = 10          # CurationConfig.segment_len default
_THRESHOLD = 0.5   # looser than the base entry: keep-best needs clusters

# The normalize → stats → gate → passed → hsurv → exact head is the
# SHARED ext32 constant (same thresholds, same rounded-stat gating);
# the segment stage splices in after `exact` and the shingle source
# switches to the REWRITTEN text.
_KEEPBEST_SQL = f"""
    WITH RECURSIVE
    {_CURATION_HEAD_SQL},
    -- segment-dedup rewrite (doc_segment_dedup_rewrite's proven SQL,
    -- applied to the NORMALIZED text of the exact survivors): keep the
    -- first corpus-wide occurrence of every {_SEG}-token window,
    -- ordered (doc_id, seg_id); reassemble survivors in position order
    segt AS (SELECT doc_id, string_split(nt, ' ') AS toks FROM exact),
    segn AS (SELECT doc_id, toks,
                    (greatest(len(toks) - {_SEG}, 0) + {_SEG} - 1)
                      // {_SEG} + 1 AS nseg
             FROM segt),
    segx AS (SELECT doc_id, toks,
                    unnest(generate_series(0, nseg - 1)) AS seg_id
             FROM segn),
    segh AS (
      SELECT doc_id, seg_id,
             array_to_string(
               toks[seg_id * {_SEG} + 1 : seg_id * {_SEG} + {_SEG}], ' ')
               AS seg_text
      FROM segx
    ),
    segr AS (
      SELECT doc_id, seg_id, seg_text,
             row_number() OVER (PARTITION BY md5(seg_text)
                                ORDER BY doc_id, seg_id) AS rn
      FROM segh
    ),
    rw AS (
      SELECT doc_id,
             sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
             coalesce(string_agg(seg_text, ' ' ORDER BY seg_id)
                        FILTER (WHERE rn = 1), '') AS rt
      FROM segr GROUP BY doc_id
    ),
    seg_kept AS (SELECT doc_id, rt AS nt FROM rw WHERE n_kept > 0),
    -- near-dup over the REWRITTEN text: 3-token shingles → MinHash →
    -- banded LSH → exact-Jaccard verify (the shared _near_dup_tail)
    toks AS (
      SELECT doc_id, unnest(string_split(nt, ' ')) AS token,
             generate_subscripts(string_split(nt, ' '), 1) AS pos
      FROM seg_kept
    ), sh AS (
      SELECT doc_id, pos,
             token || ' ' || lead(token, 1) OVER w || ' '
                   || lead(token, 2) OVER w AS shingle
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), shf AS (SELECT doc_id, pos, shingle FROM sh WHERE shingle IS NOT NULL),
    {_near_dup_tail(band_size=2, as_cte=True)},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs WHERE jaccard >= {_THRESHOLD}
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs WHERE jaccard >= {_THRESHOLD}
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    ),
    lab AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
    -- keep-BEST survivor rule (near_dup_keep_best's proven argmax):
    -- longest ORIGINAL text wins, min-id tie-break — scored on the raw
    -- documents column even though clusters were built from the
    -- rewritten text (exactly what the pipeline does)
    scored AS (
      SELECT l.cluster, l.node,
             row_number() OVER (PARTITION BY l.cluster
                                ORDER BY length(d.text) DESC, l.node ASC)
               AS rn
      FROM lab l JOIN documents d ON d.doc_id = l.node
    ),
    losers AS (SELECT node AS doc_id FROM scored WHERE rn <> 1),
    kept AS (SELECT doc_id FROM seg_kept
             WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
    outs AS (
      SELECT doc_id, 'rejected:quality_gate' AS outcome FROM gate WHERE NOT passed
      UNION ALL
      SELECT doc_id, 'rejected:exact_dedup' AS outcome FROM passed
       WHERE doc_id NOT IN (SELECT doc_id FROM hsurv)
      UNION ALL
      SELECT doc_id, 'rejected:segment_dedup' AS outcome FROM rw WHERE n_kept = 0
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


@q("curation_keepbest_survivors", _KEEPBEST_SQL)
def curation_keepbest_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The variant-flag composition: normalize → quality gate → exact
    dedup → SEGMENT dedup (keep-first 10-token windows, rewrite) →
    MinHash-LSH near-dup on the rewritten text with KEEP-BEST survivor
    selection (longest original text, min-id tie-break) → md5 split.
    One outcome row per input document (funnel conservation), running
    the REAL pipeline object so the entry certifies the configured
    surface users call.

    Scale shape: adds to the audited base funnel one window shuffle on
    seg_hash (segment bodies capped at {_SEG} tokens each — the only
    stage that moves them) and one cluster-keyed window argmax over
    the near-dup members (a tiny fraction of the corpus). Everything
    else is the same digest/semi/anti-join machinery as the base
    entry."""
    from .curation import CurationConfig, CurationPipeline

    docs = _t_wide(spark, sf_dir, "documents")
    cfg = CurationConfig(
        min_tokens=_MIN_TOKENS,
        max_tokens=_MAX_TOKENS,
        min_avg_token_len=_MIN_ATL,
        max_avg_token_len=_MAX_ATL,
        max_stopword_ratio=_MAX_SWR,
        max_punct_ratio=_MAX_PR,
        near_dup_threshold=_THRESHOLD,
        near_dup_keep="best",
        segment_dedup=True,
        segment_len=_SEG,
    )
    pipe = CurationPipeline(spark, config=cfg)
    return pipe.classify(docs.select("doc_id", "text")).orderBy("doc_id")


@q(
    "stream_running_user_totals",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT))
                AS BIGINT) / 100.0 AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming (``applyInPandasWithState``) as a
    hash-gated entry (VERDICT r6 item 2): per-user running (count,
    value-sum) state driven through a REAL 4-micro-batch streaming run
    — state must survive across batches — with the FINAL state per
    user compared against the batch grouped totals the oracle
    recomputes from the original table. Exactness discipline: state
    accumulates exact int64 CENTS (money columns are cents-quantized
    at the source), so the final state is bit-identical under any
    micro-batch partitioning and the one terminal division by 100.0
    is the same double on both engines — no float-order tolerance
    needed, unlike the pytest twin of this operator.

    Scale shape: state is two longs per user key, partitioned by the
    grouping key across the state store (RocksDB in production) —
    update-mode emissions are per-touched-key per-batch, never a full
    state scan; a 100 TB event stream holds state linear in DISTINCT
    users only."""
    from ..streaming.stateful import run_stream_running_totals_once

    return run_stream_running_totals_once(
        spark, f"{sf_dir}/events.parquet", "stream_totals_out"
    )
