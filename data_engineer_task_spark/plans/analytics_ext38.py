"""Thirty-ninth batch: the REAL JPEG/PNG/WAV header parser as a
hash-gated entry (VERDICT r8 item 2).

``operators/multimodal.py::header_decode`` parses actual byte formats
(PNG IHDR, JPEG marker walk to SOF, RIFF/WAVE chunk walk) but through
r8 it was pytest-only — every gated multimodal entry ran the
deterministic fake codec. ``multimodal_header_decode`` closes that
seam: VALID headers are synthesized in-row from doc_id arithmetic
(pure JVM expressions — big/little-endian fields spelled as hex-string
surgery, one ``unhex`` at the end), decoded with ``header_decode``
through the same Arrow seam the other entries use
(``decode_media_arrow``), and the oracle re-derives width/height/
format/frame-count from the SAME generator parameters in pure SQL. A
wrong parse (endianness, chunk offset, segment skip) or a wrong
synthesis cannot hash-match, so the real parser's whole contract is
cross-engine value-checked — including the 'unknown' quarantine path
for unparseable payloads.

Reference scope note: the reference has no media columns — this family
is the brief's training-data-pipeline extension (see
operators/multimodal.py); the header parser is the real-byte-format
half the brief's codec stubs sanction.

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import _CMS_BUCKET, _t_wide, q


def _be(col: Column, nbytes: int) -> Column:
    """Hex spelling of an nbytes big-endian unsigned field."""
    return F.lpad(F.hex(col), 2 * nbytes, "0")


def _le(col: Column, nbytes: int) -> Column:
    """Hex spelling of an nbytes little-endian unsigned field (the
    big-endian hex with its byte pairs reversed)."""
    s = F.lpad(F.hex(col), 2 * nbytes, "0")
    return F.concat(*[F.substring(s, 2 * i - 1, 2) for i in range(nbytes, 0, -1)])


@q(
    "multimodal_header_decode",
    """
    WITH p AS (
      -- parameters derive from q = doc_id // 4, NOT doc_id itself:
      -- the format selector m consumes doc_id's low bits, so any
      -- parameter still keyed on doc_id is CORRELATED with its own
      -- branch (r10 seam probe: ch = 1 + doc_id % 2 under m = 2 --
      -- which forces doc_id even -- could never reach ch = 2, and
      -- dl hit only {12, 28}); ch and dl further split q's parity
      -- (r = q // 2) so the ch x dl grid has no dead corners
      SELECT doc_id AS id, doc_id % 4 AS m,
             1 + (doc_id // 4) % 4096 AS w,
             1 + ((doc_id // 4) * 7) % 2160 AS h,
             8000 + ((doc_id // 8) % 40) * 1000 AS rate,
             1 + (doc_id // 4) % 2 AS ch,
             4 * (1 + (doc_id // 8) % 8) AS dl
      FROM documents
    )
    SELECT id,
           CAST(CASE m WHEN 0 THEN 29 WHEN 1 THEN 29
                       WHEN 2 THEN 44 + dl ELSE 17 END AS BIGINT) AS byte_len,
           CASE m WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                  WHEN 2 THEN 'wav' ELSE 'unknown' END AS format,
           CAST(CASE m WHEN 0 THEN w WHEN 1 THEN w
                       WHEN 2 THEN rate ELSE 0 END AS BIGINT) AS width,
           CAST(CASE m WHEN 0 THEN h WHEN 1 THEN h
                       WHEN 2 THEN ch ELSE 0 END AS BIGINT) AS height,
           CAST(CASE m WHEN 0 THEN 1 WHEN 1 THEN 1
                       WHEN 2 THEN dl // (2 * ch) ELSE 0 END AS BIGINT) AS n_frames
    FROM p ORDER BY id
    """,
)
def multimodal_header_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-byte-format decode, end-to-end: each doc synthesizes a
    VALID media payload chosen by ``doc_id % 4`` —

    - m=0: a 29-byte PNG (signature + IHDR with 4-byte big-endian
      width/height, bit depth 8, color type 6),
    - m=1: a 29-byte JPEG (SOI, then a COM segment the marker walk
      must SKIP, then a full SOF0 with 2-byte big-endian
      height-before-width, then EOI),
    - m=2: a RIFF/WAVE file (little-endian fmt chunk: PCM, channels,
      sample rate, byte rate, block align; a data chunk whose length
      over block-align is the frame count; word-aligned sizes),
    - m=3: an unparseable payload (0x00 + md5 bytes) that must come
      back as the 'unknown' quarantine row with zeroed dims —

    then parses the bytes with the REAL ``header_decode`` through the
    pandas-free ``mapInArrow`` seam. Dims/rates/channels are doc_id
    arithmetic on q = id//4 (w = 1+q%4096, h = 1+(7q)%2160,
    rate = 8000+1000·((q//2)%40), ch = 1+q%2, data_len = 4·(1+(q//2)%8)
    — derived from the bits ABOVE the format selector m = id%4, so no
    parameter is correlated with its own branch and the ch × dl grid
    reaches every corner incl. ch=2/dl=4; r10 seam fix), so the oracle
    re-derives every output column without parsing anything: only a
    correct synthesis AND a correct parse can hash-match.

    Scale shape: synthesis is whole-stage-codegen string/hex expressions
    (no Python), decode is one map-only Arrow stage bounded at 64 KiB
    of payload per row here and by the scan's batch size in general;
    payloads never shuffle — the output is six narrow metadata columns
    that inherit the scan's partitioning."""
    from ..operators.multimodal import decode_media_arrow, header_decode

    docs = _t_wide(spark, sf_dir, "documents")
    media = synth_header_media(docs)
    return decode_media_arrow(
        media, "doc_id", "media", decode_fn=header_decode
    ).orderBy("id")


def synth_header_media(docs: DataFrame) -> DataFrame:
    """The entry's header synthesizer, factored for direct edge
    testing (valid for ANY non-negative doc_id: every derived field is
    modulo-bounded below its byte width). Input needs (doc_id, text);
    output is (doc_id, media binary)."""
    did = F.col("doc_id")
    m = F.pmod(did, F.lit(4))
    # all parameters derive from the bits ABOVE the format selector
    # (q = id >> 2, r = id >> 3; exact for the non-negative ids the
    # synthesizer is specified for — == the oracle's doc_id // 4 //
    # 2), so no field is correlated with its own branch (r10 seam
    # probe: ch keyed on id%2 under the m==2 branch could never be 2)
    qid = F.shiftright(did, 2)
    rid = F.shiftright(did, 3)
    w = (F.lit(1) + F.pmod(qid, F.lit(4096))).cast("long")
    # (q % 2160) * 7 % 2160 == (q * 7) % 2160, without the int64
    # multiply overflow a raw q*7 hits past ~1.3e18 under ANSI (found
    # by the extreme-id seam test; the oracle's //4 * 7 spelling is
    # safe at any reachable testdata id)
    h = (F.lit(1) + F.pmod(F.pmod(qid, F.lit(2160)) * 7, F.lit(2160))).cast(
        "long"
    )
    rate = (F.lit(8000) + F.pmod(rid, F.lit(40)) * 1000).cast("long")
    ch = (F.lit(1) + F.pmod(qid, F.lit(2))).cast("long")
    dl = (F.lit(4) * (F.lit(1) + F.pmod(rid, F.lit(8)))).cast("long")
    ba = (ch * 2).cast("long")

    png_hex = F.concat(
        F.lit("89504e470d0a1a0a0000000d49484452"),  # sig + IHDR len/tag
        _be(w, 4),
        _be(h, 4),
        F.lit("0806000000"),  # depth 8, color 6, compression/filter/interlace
    )
    jpeg_hex = F.concat(
        # SOI, COM(len 4, 2 payload bytes) — exercises the segment skip
        F.lit("ffd8fffe00045347"),
        F.lit("ffc0001108"),  # SOF0, seglen 17, precision 8
        _be(h, 2),
        _be(w, 2),
        F.lit("03012200021101031101"),  # 3 components (YCbCr specs)
        F.lit("ffd9"),  # EOI
    )
    # data-chunk payload: dl zero bytes, dl in {4,8,...,32}
    zeros = F.element_at(
        F.array(*[F.lit("00" * (4 * (i + 1))) for i in range(8)]),
        (F.pmod(rid, F.lit(8)) + 1).cast("int"),
    )
    wav_hex = F.concat(
        F.lit("52494646"),  # "RIFF"
        _le(dl + 36, 4),
        F.lit("57415645666d742010000000"),  # "WAVE" + "fmt " + len 16
        F.lit("0100"),  # PCM
        _le(ch, 2),
        _le(rate, 4),
        _le(rate * ba, 4),  # byte rate
        _le(ba, 2),
        F.lit("1000"),  # 16 bits/sample
        F.lit("64617461"),  # "data"
        _le(dl, 4),
        zeros,
    )
    unknown_hex = F.concat(F.lit("00"), F.md5(F.col("text")))

    return docs.select(
        did.alias("doc_id"),
        F.unhex(
            F.when(m == 0, png_hex)
            .when(m == 1, jpeg_hex)
            .when(m == 2, wav_hex)
            .otherwise(unknown_hex)
        ).alias("media"),
    )


@q(
    "doc_token_cms_sharded_merge",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    cells AS (
      SELECT j, {_CMS_BUCKET.format(j="j", tok="token")} AS bucket, cnt
      FROM vocab CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
    ),
    sketch AS (
      SELECT j, bucket, CAST(sum(cnt) AS BIGINT) AS c
      FROM cells GROUP BY j, bucket
    ),
    panel AS (
      SELECT token, CAST(cnt AS BIGINT) AS true_cnt
      FROM vocab ORDER BY cnt DESC, token ASC LIMIT 10 OFFSET 10
    ),
    probe AS (
      SELECT t.token, t.true_cnt, min(s.c) AS cms_est
      FROM panel t
      CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) d
      JOIN sketch s
        ON s.j = d.j
       AND s.bucket = {_CMS_BUCKET.format(j="d.j", tok="t.token")}
      GROUP BY t.token, t.true_cnt
    )
    SELECT token, true_cnt, CAST(cms_est AS BIGINT) AS cms_est
    FROM probe ORDER BY true_cnt DESC, token ASC
    """,
)
def doc_token_cms_sharded_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS partial-merge contract as a gated entry: the corpus is
    split into two doc shards, each reduced to its OWN 4x256 sketch,
    and the shards are folded with ``cms_merge`` — whose r9 rewrite
    (depth-row coverage trim, ADVICE r8) this gates end-to-end, since
    the oracle builds the grid ONE-SHOT in SQL: hash equality proves
    shard-build -> merge == one-shot, cell-exactly, cross-engine (the
    equal-depth identity path of the trim; the mixed-depth trim path
    is property-tested). The probe panel is the SECOND frequency
    decile (ranks 11-20), where cells are lighter and a merge defect
    that duplicated or dropped cell mass would not hide under a
    heavy-hitter's collision slack.

    Scale shape: one (shard, token) groupBy collapses the corpus with
    map-side combine — the only shuffle that scales with data, and
    ReuseExchange serves all three consumers (two shard sketches + the
    exact panel) from that single exchange; everything after is
    fixed-size (<= shards x depth x 256 cells). At 100 TB the shards
    are per-day/per-partition persisted sketch state and the merge
    reads only sketch rows — history is never re-scanned."""
    from ..operators.sketch import cms_build, cms_estimate, cms_merge

    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("sh"),
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    )
    pv = toks.groupBy("sh", "token").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    merged = cms_merge(
        cms_build(pv.where(F.col("sh") == 0), "token", depth=4, weight_col="w"),
        cms_build(pv.where(F.col("sh") == 1), "token", depth=4, weight_col="w"),
    )
    vocab = pv.groupBy("token").agg(
        F.sum("w").cast("long").alias("true_cnt")
    )
    panel = (
        vocab.orderBy(F.desc("true_cnt"), F.asc("token")).offset(10).limit(10)
    )
    return cms_estimate(merged, panel, "token", depth=4).orderBy(
        F.desc("true_cnt"), F.asc("token")
    )
