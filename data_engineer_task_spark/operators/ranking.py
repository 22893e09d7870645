"""Scale-safe global ordering primitives: rank / prefix sums over a
total order WITHOUT a single-partition window.

Every distributed SQL engine hits the same wall: ``row_number() OVER
(ORDER BY ...)`` with no PARTITION BY moves the whole frame through
one task. The standard fix — and what this module packages — is the
two-level spelling:

1. split the frame into RANGE buckets on the order key (cut points
   from one ``approx_percentile`` pass — the cuts only control
   physical placement, never the answer, so sketch approximation is
   harmless);
2. aggregate per-bucket counts / sums (one tiny frame, ≤ `buckets`
   rows per key) and turn them into exclusive running offsets ON THE
   DRIVER — bounded metadata, the same class as collected k-means
   centroids — baked into the final plan as literal arrays;
3. rank / prefix-sum WITHIN each bucket via a PARTITIONED window and
   add the bucket's offset — map-only after one balanced shuffle.

Auxiliary driver jobs: TWO for ANY number of keys (VERDICT r5 item 5 —
``ordered_prefix_multi`` shares one percentile-cuts job and one
per-bucket stats job across all its specs, where r5 paid two jobs per
key; an in-plan broadcast variant that cut it to one job was measured
SLOWER at sf0.1 — the per-spec BroadcastNestedLoopJoin cost more than
the saved dispatch — and rejected). Callers whose upstream lineage is
expensive should persist() the input: every aux job re-executes it.

DETERMINISM CONTRACT (CLAUDE.md float rule): ranks are exact integers
by construction; prefix sums are only offered over INTEGRAL columns
(cents-quantized longs etc.), so bucket-boundary placement can never
re-associate a float sum — the result is bit-identical for ANY cut
vector, which is what makes the approximate cut sampling safe.

No ``spark_partition_id()`` anywhere: buckets are a pure function of
the row's own key, so retries, AQE coalescing, and re-planning cannot
move a row between buckets.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# Above this many distinct partition_by groups the per-(group, bucket)
# offset join stops FORCING a broadcast (the BROADCAST_CANDIDATE_LIMIT
# pattern from operators/dedup.py: an explicit hint bypasses Spark's
# size guard, and offset rows grow with group cardinality — a
# user_id-grade partition_by would OOM the driver). The group NDV is
# measured by the cuts job (approx_count_distinct riding the same
# pass, so the guard costs nothing); at the limit the offset frame is
# ≤ 10⁴ groups × 64 buckets ≈ 640k rows of longs — comfortably
# broadcastable. Beyond it the join is left to the planner: measured
# at 4M rows × 32 groups, the unhinted plan stays SortMergeJoin even
# under AQE (≈3× slower than the broadcast — the hint matters).
BROADCAST_GROUP_LIMIT = 10_000


def _bucket_expr(key: Column, cuts: Sequence[float | int]) -> Column:
    """0-based range-bucket id: the number of cut points strictly
    below ``key`` — a fixed chain of ≤ `buckets` comparisons, fully
    codegen'd, no join."""
    b: Column = F.lit(0)
    for c in cuts:
        b = b + (key > F.lit(c)).cast("int")
    return b


@dataclass
class RankSpec:
    """One global order to materialize: ``key`` ASC with ``tiebreak``
    ASC tie-breaks, emitting ``rank_col`` (1-based global position,
    or None to skip) and/or exclusive prefix ``sums`` (output column →
    INTEGRAL source column). Descending orders: negate the key at the
    call site — integer negation is exact.

    ``partition_by`` (column NAMES): restart the order inside every
    distinct partition tuple while STILL spreading each partition's
    rows across range buckets — the per-group form of the two-level
    rank, for the few-but-huge-groups case a plain
    ``Window.partitionBy(group)`` funnels through one task (e.g. a
    per-language rank over a corpus with 30 languages). Per-(group,
    bucket) offsets are computed IN-PLAN and broadcast-joined back
    (≤ groups·buckets rows — intended for group cardinality ≲ 10⁴,
    and the broadcast hint is NDV-guarded: past
    ``BROADCAST_GROUP_LIMIT`` measured groups the join goes unhinted
    instead of forcing an unbounded driver broadcast; beyond that the
    groups are small enough that the plain partitioned window is the
    right tool, see ``sketch.k_smallest``'s bound note)."""

    key: str | Column
    tiebreak: Sequence[str | Column] = ()
    rank_col: str | None = "rank"
    sums: Mapping[str, str] = field(default_factory=dict)
    partition_by: Sequence[str] = ()


def ordered_prefix(
    df: DataFrame,
    key: str | Column,
    tiebreak: Sequence[str | Column] = (),
    *,
    rank_col: str | None = "rank",
    sums: dict[str, str] | None = None,
    buckets: int = 64,
    validate: bool = False,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Add a 1-based global ``rank_col`` (dense total-order position)
    and/or EXCLUSIVE prefix sums over integral columns, ordered by
    ``(key ASC, *tiebreak ASC)`` — globally, or per ``partition_by``
    group. Single-spec convenience wrapper over
    ``ordered_prefix_multi`` — see it for cost/contract details."""
    return ordered_prefix_multi(
        df,
        [RankSpec(key, tiebreak, rank_col, sums or {}, partition_by)],
        buckets=buckets,
        validate=validate,
    )


def ordered_prefix_multi(
    df: DataFrame,
    specs: Sequence[RankSpec],
    *,
    buckets: int = 64,
    validate: bool = False,
) -> DataFrame:
    """Materialize SEVERAL independent global orders over one frame in
    one pass: all specs share a single ``approx_percentile`` cuts job
    and a single per-bucket stats job — the multi-quantile callers
    (RFM's three quartile ranks) pay the two aux-job latencies once
    instead of per key (ADVICE r5 / VERDICT r5 item 5).

    Cost: two aux driver jobs total (cuts; tagged per-bucket stats,
    collected as ≤ len(specs)·buckets rows of metadata), then one
    balanced shuffle per spec for its partitioned rank window.

    INPUT CONTRACT (code-review r5): the aux jobs and the final plan
    re-execute ``df``'s lineage, so the input
    must be DETERMINISTIC across executions — no unordered
    ``.limit()``, ``monotonically_increasing_id``, or mutating source
    underneath. A nondeterministic input can make a bucket's broadcast
    offsets disagree with the rows ranked beside them (duplicate or
    gapped ranks). Snapshot such an input first (``localCheckpoint``)
    when you can't guarantee that; ``validate=True`` (debug/test mode) runs
    an extra action per spec asserting the contract held — ranks must
    be a permutation of 1..n — and raises instead of corrupting.

    NULL keys fail loudly here (ALL-null included — the
    approx_percentile row carries per-key non-null counts, closing
    ADVICE r5's all-NULL gap where empty cuts silently ranked NULLs
    first): filter or coalesce NULL keys, deciding their order,
    before calling. NaN keys are consistent but last: Spark orders
    NaN above every real in both `>` and window ASC sort, so NaN rows
    land in the top bucket and rank after all reals (guard with
    nanvl() if you want them elsewhere). Prefix-sum sources must be
    INTEGRAL columns (the determinism contract above) — a float
    source fails loudly rather than silently re-associating.
    """
    specs = list(specs)
    if not specs:
        raise ValueError("ordered_prefix_multi needs at least one RankSpec")
    # Loud-fail on output-name collisions (ADVICE r6): two specs
    # sharing a rank_col / sums output (e.g. both left on the default
    # "rank"), or an output shadowing an input column, would have the
    # later withColumn silently overwrite the earlier ranks.
    out_names: list[str] = []
    for s in specs:
        if s.rank_col is not None:
            out_names.append(s.rank_col)
        out_names.extend(dict(s.sums).keys())
    dupes = sorted({n for n in out_names if out_names.count(n) > 1})
    clashes = sorted(set(out_names) & set(df.columns))
    if dupes or clashes:
        raise ValueError(
            "ordered_prefix output-column collision: "
            + (f"duplicated across specs {dupes} " if dupes else "")
            + (f"shadowing input columns {clashes} " if clashes else "")
            + "— give each spec a distinct rank_col / sums output name"
        )
    _integral = ("long", "int", "integer", "smallint", "tinyint", "bigint")
    dtypes = dict(df.dtypes)
    for s in specs:
        for out, src in dict(s.sums).items():
            if dtypes.get(src) not in _integral:
                raise ValueError(
                    f"ordered_prefix sums[{out!r}] source {src!r} has type "
                    f"{dtypes.get(src)!r} — prefix sums are only offered "
                    "over integral columns (quantize floats to exact "
                    "integer units first; see the determinism contract)"
                )

    # Deliberately NOT checkpointed here: measured at sf0.1, eager
    # localCheckpoint cost MORE than the recomputation it saved
    # (materialization blocks + an ExistingRDD scan that forfeits
    # column pruning / codegen downstream) — see BASELINE.md's r5
    # builder note. On a real cluster, persist() the input before
    # calling when its lineage is expensive.

    # The double cast serves ONLY the percentile cuts and the bucket
    # comparisons (approx_percentile wants a numeric, and the cast is
    # monotone, so bucket placement stays order-consistent). Rank
    # windows order by the RAW key (ADVICE r6): integral keys above
    # 2^53 (epoch-nanos, large cents sums) collapse to equal doubles,
    # which would silently hand ordering to the tiebreak and diverge
    # from the exact-integer total order.
    raw_kcols = [
        (F.col(s.key) if isinstance(s.key, str) else s.key) for s in specs
    ]
    # Loud-fail on non-numeric keys (code-review r7): the raw-key
    # window order is only consistent with the double-cast bucket
    # placement when the cast is MONOTONE — true for numerics, false
    # for e.g. numeric strings ('100' < '99' lexicographically), where
    # ranks would follow neither total order and validate= could not
    # detect it (still a permutation).
    _numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
    key_schema = df.select(
        *[k.alias(f"_rk_{i}") for i, k in enumerate(raw_kcols)]
    ).schema
    for i, f_ in enumerate(key_schema.fields):
        t = f_.dataType.simpleString()
        if t not in _numeric and not t.startswith("decimal"):
            raise ValueError(
                f"ordered_prefix key for spec {i} has type {t!r} — keys "
                "must be numeric (the range-bucket double cast must be "
                "monotone w.r.t. the key's sort order); cast or encode "
                "the key numerically first"
            )
    kcols = [k.cast("double") for k in raw_kcols]
    probs = ", ".join(str(i / buckets) for i in range(1, buckets))
    # accuracy 1000 (not the 10000 default): the cuts only control
    # PLACEMENT — every rank/sum is exact-integer and cut-invariant —
    # so cheap sketching is free; 1000 still bounds bucket imbalance
    # to ~0.1% of rows per cut at any scale.
    part_idx = [i for i, s in enumerate(specs) if s.partition_by]
    keyed = df.select(
        [k.alias(f"_opk_{i}") for i, k in enumerate(kcols)]
        + [
            F.struct(*[F.col(c) for c in specs[i].partition_by]).alias(
                f"_opg_{i}"
            )
            for i in part_idx
        ]
    )
    agg_row = keyed.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.expr(f"approx_percentile(_opk_{i}, array({probs}), 1000)").alias(
                f"_c_{i}"
            )
            for i in range(len(specs))
        ],
        *[F.count(f"_opk_{i}").alias(f"_nn_{i}") for i in range(len(specs))],
        # group-NDV per partitioned spec for the offset-broadcast guard
        # (see BROADCAST_GROUP_LIMIT) — rides the same single pass
        *[
            F.approx_count_distinct(f"_opg_{i}").alias(f"_gd_{i}")
            for i in part_idx
        ],
    ).collect()[0]
    for i, s in enumerate(specs):
        if agg_row[f"_nn_{i}"] != agg_row["_n"]:
            raise ValueError(
                f"ordered_prefix requires a non-null key (spec {i}: "
                f"{agg_row['_n'] - agg_row[f'_nn_{i}']} null of "
                f"{agg_row['_n']} rows); filter or coalesce NULL keys "
                "(and decide their rank order) first"
            )
    all_cuts = [sorted(set(agg_row[f"_c_{i}"] or [])) for i in range(len(specs))]

    # --- second (and last) auxiliary job: per-bucket stats for every
    # UNPARTITIONED spec at once. Each spec's bucket id rides a tagged
    # struct and one explode feeds one groupBy(spec, bucket) —
    # map-side partial aggregation collapses the ×len(specs) fan-out
    # before anything shuffles, and the collect is ≤
    # len(specs)·buckets rows of driver metadata (same audited bound
    # as k-means centroids). Single-spec calls skip the explode
    # entirely. PARTITIONED specs skip this job altogether: their
    # (group, bucket) offsets are computed in-plan and broadcast-
    # joined back, so they never cross the driver at all.
    bucketed = df.select(
        "*",
        *[
            _bucket_expr(kcol, cuts).alias(f"_b_{i}")
            for i, (kcol, cuts) in enumerate(zip(kcols, all_cuts))
        ],
    )
    flat_idx = [i for i, s in enumerate(specs) if not s.partition_by]
    sum_srcs = sorted(
        {src for i in flat_idx for src in specs[i].sums.values()}
    )
    stat_aggs = [F.count(F.lit(1)).cast("long").alias("_cnt")] + [
        F.coalesce(F.sum(src).cast("long"), F.lit(0)).alias(f"_s_{src}")
        for src in sum_srcs
    ]
    stats: dict[int, dict[int, dict]] = {i: {} for i in flat_idx}
    if len(flat_idx) == 1:
        only = flat_idx[0]
        grouped = (
            bucketed.groupBy(
                F.lit(only).alias("_spec"), F.col(f"_b_{only}").alias("_b")
            )
            .agg(*stat_aggs)
        )
    elif flat_idx:
        tagged = bucketed.select(
            *sum_srcs,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("_spec"), F.col(f"_b_{i}").alias("_b")
                        )
                        for i in flat_idx
                    ]
                )
            ).alias("_sb"),
        )
        grouped = tagged.groupBy(
            F.col("_sb._spec").alias("_spec"), F.col("_sb._b").alias("_b")
        ).agg(*stat_aggs)
    if flat_idx:
        for r in grouped.collect():
            stats[r["_spec"]][r["_b"]] = r

    out_df = bucketed
    for i, spec in enumerate(specs):
        bname = f"_b_{i}"
        rkcol = raw_kcols[i]
        sums = dict(spec.sums)
        tb = [
            (F.col(t) if isinstance(t, str) else t).asc()
            for t in spec.tiebreak
        ]
        if spec.partition_by:
            pcols = list(spec.partition_by)
            # per-(group, bucket) stats → exclusive offsets via a
            # PARTITIONED window over the tiny stats frame, broadcast-
            # joined back on null-safe group keys + bucket. Everything
            # stays in-plan: one extra shuffle of ≤ groups·buckets
            # rows, no driver round-trip.
            spec_srcs = sorted(set(sums.values()))
            gstats = bucketed.groupBy(
                *pcols, F.col(bname).alias("_pb")
            ).agg(
                F.count(F.lit(1)).cast("long").alias("_cnt"),
                *[
                    F.coalesce(F.sum(src).cast("long"), F.lit(0)).alias(
                        f"_s_{src}"
                    )
                    for src in spec_srcs
                ],
            )
            woff = W.partitionBy(*pcols).orderBy("_pb").rowsBetween(
                W.unboundedPreceding, -1
            )
            off_frame = gstats.select(
                *[F.col(c).alias(f"_pj_{c}_{i}") for c in pcols],
                F.col("_pb").alias(f"_pb_{i}"),
                F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias(
                    f"_offc_{i}"
                ),
                *[
                    F.coalesce(
                        F.sum(f"_s_{src}").over(woff), F.lit(0)
                    ).alias(f"_offs_{out}_{i}")
                    for out, src in sums.items()
                ],
            )
            cond = F.col(bname) == F.col(f"_pb_{i}")
            for c in pcols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"_pj_{c}_{i}"))
            # Guarded broadcast (ADVICE r6): the hint is forced only
            # when the MEASURED group NDV bounds the offset frame
            # (≤ BROADCAST_GROUP_LIMIT × buckets rows); an abusive
            # high-cardinality partition_by (user_id) flips to the
            # unhinted join instead of OOMing the driver — same
            # pattern as dedup.BROADCAST_CANDIDATE_LIMIT.
            if agg_row[f"_gd_{i}"] <= BROADCAST_GROUP_LIMIT:
                off_frame = F.broadcast(off_frame)
            out_df = out_df.join(off_frame, cond)
            w = W.partitionBy(*pcols, bname).orderBy(rkcol.asc(), *tb)
            if spec.rank_col is not None:
                out_df = out_df.withColumn(
                    spec.rank_col,
                    (F.col(f"_offc_{i}") + F.row_number().over(w)).cast(
                        "long"
                    ),
                )
            for out, src in sums.items():
                local = F.coalesce(
                    F.sum(src).over(w.rowsBetween(W.unboundedPreceding, -1)),
                    F.lit(0),
                )
                out_df = out_df.withColumn(
                    out, (F.col(f"_offs_{out}_{i}") + local).cast("long")
                )
            out_df = out_df.drop(
                f"_pb_{i}",
                f"_offc_{i}",
                *[f"_pj_{c}_{i}" for c in pcols],
                *[f"_offs_{out}_{i}" for out in sums],
            )
            continue
        # exclusive running offsets per bucket, computed on the
        # driver-metadata stats rows, baked into the plan as literal
        # arrays — the final stage is pure codegen + one partitioned
        # window, no extra join.
        offsets: dict[int, dict[str, int]] = {}
        run_cnt = 0
        run_sums = {out: 0 for out in sums}
        for bid in sorted(stats[i]):
            offsets[bid] = {"_cnt": run_cnt, **dict(run_sums)}
            run_cnt += stats[i][bid]["_cnt"]
            for out, src in sums.items():
                run_sums[out] += stats[i][bid][f"_s_{src}"]

        max_b = max(offsets, default=0)
        w = W.partitionBy(bname).orderBy(rkcol.asc(), *tb)
        if spec.rank_col is not None:
            cnt_arr = F.array(
                *[
                    F.lit(offsets.get(j, {"_cnt": 0})["_cnt"])
                    for j in range(max_b + 1)
                ]
            )
            out_df = out_df.withColumn(
                spec.rank_col,
                (
                    F.element_at(cnt_arr, F.col(bname) + 1)
                    + F.row_number().over(w)
                ).cast("long"),
            )
        for out, src in sums.items():
            sum_arr = F.array(
                *[
                    F.lit(offsets.get(j, {}).get(out, 0))
                    for j in range(max_b + 1)
                ]
            )
            local = F.coalesce(
                F.sum(src).over(w.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0),
            )
            out_df = out_df.withColumn(
                out,
                (F.element_at(sum_arr, F.col(bname) + 1) + local).cast("long"),
            )
    out_df = out_df.drop(*[f"_b_{i}" for i in range(len(specs))])

    if validate:
        flat_rank = [
            s for s in specs if s.rank_col is not None and not s.partition_by
        ]
        if flat_rank:
            checks = out_df.agg(
                F.count(F.lit(1)).alias("_n"),
                *[
                    c
                    for s in flat_rank
                    for c in (
                        F.max(s.rank_col).alias(f"_max_{s.rank_col}"),
                        F.count_distinct(F.col(s.rank_col)).alias(
                            f"_dst_{s.rank_col}"
                        ),
                    )
                ],
            ).collect()[0]
            for s in flat_rank:
                n, mx, dst = (
                    checks["_n"],
                    checks[f"_max_{s.rank_col}"],
                    checks[f"_dst_{s.rank_col}"],
                )
                if n and (mx != n or dst != n):
                    raise ValueError(
                        f"ordered_prefix input-determinism contract violated "
                        f"for {s.rank_col!r}: {n} rows but max rank {mx}, "
                        f"{dst} distinct ranks — the input plan produced "
                        "different rows across executions (see INPUT "
                        "CONTRACT; snapshot the input with localCheckpoint() "
                        "before the call)"
                    )
        for s in specs:
            if s.rank_col is None or not s.partition_by:
                continue
            # per-group permutation check: only VIOLATING groups come
            # back (bounded), never one row per group
            g = out_df.groupBy(*s.partition_by).agg(
                F.count(F.lit(1)).alias("_n"),
                F.max(s.rank_col).alias("_mx"),
                F.count_distinct(F.col(s.rank_col)).alias("_dst"),
            )
            bad = (
                g.where(
                    (F.col("_mx") != F.col("_n"))
                    | (F.col("_dst") != F.col("_n"))
                )
                .limit(5)
                .collect()
            )
            if bad:
                raise ValueError(
                    f"ordered_prefix input-determinism contract violated "
                    f"for {s.rank_col!r} in groups "
                    f"{[tuple(r[c] for c in s.partition_by) for r in bad]} "
                    "— ranks are not a permutation of 1..n within the "
                    "group (see INPUT CONTRACT; snapshot the input with "
                    "localCheckpoint() before the call)"
                )
    return out_df


def ntile_of_rank(rank: Column, n_total: Column, n_tiles: int) -> Column:
    """The bucket ``ntile(n_tiles)`` assigns to 1-based ``rank`` in a
    ``n_total``-row total order — pure integer `div` arithmetic: the
    first ``n_total % n_tiles`` tiles hold ``n_total div n_tiles + 1``
    rows, the rest one fewer. The q=0 ELSE branch is unreachable
    (rank > m·(q+1) = n_total is impossible when q=0), so the lazy
    CASE never divides by zero under ANSI. Pair with
    ``ordered_prefix``'s rank to spell a global ntile without the
    single-partition window.

    Exactness: the `(x - x % d) / d` integer divisions go through
    DOUBLE, which is exact for operands < 2^53 (numerator is an exact
    multiple of d and the integer quotient is representable, so the
    correctly-rounded division IS the quotient) — ~9e15 rows, far
    past any declared workload; membership can't flip below that."""
    qq = ((n_total - (n_total % n_tiles)) / n_tiles).cast("long")
    m = (n_total % n_tiles).cast("long")
    size_big = qq + 1
    cut = m * size_big
    return F.when(
        rank <= cut, ((rank + qq) - ((rank + qq) % size_big)) / size_big
    ).otherwise(
        m + ((rank - cut + qq - 1) - ((rank - cut + qq - 1) % qq)) / qq
    ).cast("long")
