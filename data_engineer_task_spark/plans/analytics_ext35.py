"""Thirty-sixth batch: the incremental SketchRollup PIPELINE as a
hash-gated entry (VERDICT r7 item 1) — the one composed user-facing
surface that was still pytest-only after r7.

``sketch_rollup_report`` drives the REAL ``plans/sketch_rollup.py``
object end-to-end: three event shards reduced to persisted HLL/KMV
parquet state through ``SketchRollup.ingest()`` (config stamp + ledger
idempotency + per-shard overwrite discipline included — a replayed
shard must be a no-op for the answer to come out right), then answers
folded on read via ``estimates()``. The oracle computes the SAME
sketches one-shot over the union of the shards in DuckDB — hash
equality certifies the pipeline's whole contract in one gate:
shard-reduce → persist → ledger-skip → fold ≡ one-shot (the
merge-equivalence the operators property-test, now proven cross-engine
through the pipeline surface users actually call).

Reference scope note: the reference's ETL driver re-loads its
warehouse from scratch per run behind a check_history ledger
(``task.py:289``); this is the sketch-state analog of that driver —
ingest-once bookkeeping, but O(registers + k) state instead of a
truncate-and-reload.

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import _HLL_M, _HLL_NUM, _HLL_SMALL
from .registry import _K, _KMV_SCALE, _hex_int_sql, _hll_sql, _t, q

_N_SHARDS = 3


def _kernel_digest() -> str:
    """Content digest of everything that determines the PERSISTED
    sketch bytes: the sketch operator module (register hash, rho, KMV
    hash derivations), the rollup pipeline module (slug/layout/ledger
    discipline), and the oracle-side k / scale constants. Folded into
    the state-dir tag so a value-affecting kernel change invalidates
    stale /tmp state BY CONSTRUCTION — the r8 design keyed on a
    manually-bumped version string, which only worked if someone
    remembered to bump it (ADVICE r8)."""
    from ..operators import sketch as _sketch_mod
    from . import sketch_rollup as _rollup_mod

    h = hashlib.md5()
    for mod in (_sketch_mod, _rollup_mod):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    h.update(f"|{_K}|{_KMV_SCALE}".encode())
    return h.hexdigest()[:12]


def _footer_digest(path: str) -> str:
    """md5 of a file's last 64 KiB — for parquet that spans the footer
    (row-group offsets + min/max stats), so regenerated testdata whose
    name/size/mtime all coincide with the old files still gets a fresh
    state dir (VERDICT r8 seam probe: the name/size/mtime triple alone
    is spoofable by an unlucky regeneration). Bounded read: never more
    than 64 KiB per part file, regardless of data scale."""
    with open(path, "rb") as f:
        f.seek(0, os.SEEK_END)
        f.seek(max(0, f.tell() - 65536))
        return hashlib.md5(f.read()).hexdigest()[:12]


def _state_base() -> str:
    """Per-user, mode-0700 scratch root for persisted sketch state.
    The r8 design nested state directly under the world-shared
    tempfile.gettempdir(), where another user could pre-create a
    colliding dir and the ledger would fold foreign parquet into the
    gated answer (ADVICE r8). Ownership is verified, not assumed: a
    pre-existing dir owned by someone else raises instead of being
    silently reused."""
    import stat as statmod

    uid = os.getuid() if hasattr(os, "getuid") else "u"
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_state_{uid}")
    # lstat + symlink rejection (code-review r9): makedirs/stat/chmod
    # all FOLLOW symlinks, so a pre-planted symlink at this predictable
    # name pointing at a victim-owned directory would pass a stat-based
    # ownership check while redirecting state to an attacker-chosen
    # location. Refuse anything that is not a real directory we own.
    if os.path.islink(base):
        raise RuntimeError(
            f"sketch state base {base} is a symlink — refusing to "
            "follow it for sketch state"
        )
    os.makedirs(base, mode=0o700, exist_ok=True)
    st = os.lstat(base)
    if not statmod.S_ISDIR(st.st_mode):
        raise RuntimeError(f"sketch state base {base} is not a directory")
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        raise RuntimeError(
            f"sketch state base {base} is owned by another user — "
            "refusing to read or write sketch state there"
        )
    os.chmod(base, 0o700)
    return base


@q(
    "sketch_rollup_report",
    f"""
    WITH {_hll_sql("CAST(user_id AS VARCHAR)", "event_type", "events",
                   "user_id IS NOT NULL")},
    uv AS (
      SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v
      FROM events WHERE user_id IS NOT NULL
    ),
    khs AS (
      SELECT DISTINCT event_type, CAST({_hex_int_sql("md5('kmv:' || v)", 12)} AS BIGINT) AS h FROM uv
    ),
    krk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM khs
    ),
    ksk AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_sketch, max(h) AS hk
      FROM krk WHERE rn <= {_K} GROUP BY event_type
    ),
    ex AS (
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    )
    SELECT f.event_type, ex.n_exact,
           round((CASE WHEN {_HLL_NUM!r} / CAST(sum_int AS DOUBLE)
                            <= {_HLL_SMALL!r} AND v > 0
                       THEN {float(_HLL_M)!r}
                            * ln({float(_HLL_M)!r} / CAST(v AS DOUBLE))
                       ELSE {_HLL_NUM!r} / CAST(sum_int AS DOUBLE)
                  END) * 100.0) / 100.0 AS hll_est,
           round((CASE WHEN n_sketch < {_K} THEN CAST(n_sketch AS DOUBLE)
                       ELSE {_KMV_SCALE} / CAST(hk AS DOUBLE)
                  END) * 10000.0) / 10000.0 AS kmv_est
    FROM folded f JOIN ksk USING (event_type) JOIN ex USING (event_type)
    ORDER BY event_type
    """,
)
def sketch_rollup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type answered from PERSISTED per-shard
    sketch state: events split into {_N_SHARDS} shards (event_id mod),
    each reduced to HLL register + KMV hash-set parquet through the
    real ``SketchRollup.ingest()`` (second ingest of shard 0 exercises
    the ledger-skip path inside the gated run), estimates folded on
    read. Reported next to the exact count so the entry also pins both
    estimators' accuracy on real data.

    Determinism: HLL/KMV state is pure integers (register maxima,
    48-bit hash minima) — exact through the parquet round-trip and
    order-free under any shard partitioning, which is WHY fold-on-read
    can hash-match a one-shot oracle. The only floats are the final
    single IEEE divisions (and HLL's small-range ln, irrational at
    every reachable V — house transcendental policy), display-rounded
    identically on both engines (the ext34/ext26 gate spellings).

    Scale shape: each ingest shuffles one shard down to ≤ 256 + k rows
    per event type and never touches other shards; estimates() reads
    shards × groups × (256 + k) rows of state regardless of how much
    raw history the shards summarized. At 100 TB this is the only
    affordable "distinct users, updated per ingest" shape — history is
    scanned exactly once, when its shard arrives.

    The staging dir lives under a per-user mode-0700 scratch root and
    is keyed by the source files' content identity (name/size/footer
    digest) AND a digest of the sketch kernel sources: repeated runs
    in one round reuse the ledger-skipped state; regenerated testdata
    at the same path — or a value-affecting kernel change — gets a
    fresh dir instead of being served stale sketches (ADVICE r8 +
    VERDICT r8 seam probe)."""
    from .sketch_rollup import SketchRollup

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())

    events_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(events_path):
        # recursive, deterministic walk (code-review r9): a
        # partitionBy layout nests part files under key=... dirs, and
        # open()ing a directory entry raises IsADirectoryError — the
        # digest must key on the FILES wherever they sit
        stats = []
        for root, dirs, files in os.walk(events_path):
            dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
            for f in sorted(files):
                if f.startswith((".", "_")):
                    continue
                p = os.path.join(root, f)
                stats.append(
                    (
                        os.path.relpath(p, events_path),
                        os.path.getsize(p),
                        _footer_digest(p),
                    )
                )
    else:
        stats = [
            (
                os.path.basename(events_path),
                os.path.getsize(events_path),
                _footer_digest(events_path),
            )
        ]
    tag = hashlib.md5(
        f"{events_path}|{_N_SHARDS}|{stats}|{_kernel_digest()}"
        f"|event_type|user_id|{_K}".encode()
    ).hexdigest()[:12]
    state = os.path.join(_state_base(), f"sketch_rollup_{tag}")

    roll = SketchRollup(
        spark,
        state,
        group_cols=("event_type",),
        value_col="user_id",
        k=_K,
    )
    for s in range(_N_SHARDS):
        roll.ingest(
            ev.where(F.pmod(F.col("event_id"), F.lit(_N_SHARDS)) == s),
            f"events-shard-{s}",
        )
    # replay: the ledger must skip (False) — the idempotency half of
    # the pipeline contract, exercised inside the hash-gated run. This
    # raise is the ONLY detection (a regressed re-ingest overwrites
    # the same slug with identical state, so the folded answer — and
    # the hash — would be unchanged); explicit if/raise, not assert,
    # so -O/PYTHONOPTIMIZE can strip neither the check nor the replay
    # exercise itself (code-review r8).
    replay_ingested = roll.ingest(
        ev.where(F.pmod(F.col("event_id"), F.lit(_N_SHARDS)) == 0),
        "events-shard-0",
    )
    if replay_ingested is not False:
        raise AssertionError(
            "ledger replay must skip an already-ingested shard"
        )

    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return (
        roll.estimates()
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            (F.round(F.col("hll_est") * 100.0) / 100.0).alias("hll_est"),
            (F.round(F.col("kmv_est") * 10000.0) / 10000.0).alias(
                "kmv_est"
            ),
        )
        .orderBy("event_type")
    )
