"""Connected components — the pairs→groups step of near-dup clustering.

A verified near-dup pair list is a graph; the dedup SURVIVOR set is one
representative per connected component (A~B, B~C ⇒ {A,B,C} even when
A,C never paired). Every node is labeled with the MIN node id of its
component. Two paths reach that one fixpoint:

 - driver union-find, after one collect — the edge list is
   metadata-scale (near-dup pairs ≪ corpus rows), so this is the
   common path at any corpus size;
 - the large-star/small-star alternation (Kiveris et al., "Connected
   Components in MapReduce and Beyond", SoCC'14), distributed, for an
   edge list above ``driver_threshold``: O(log n) rounds in component
   size whatever the graph's depth, and the driver only ever sees a
   per-round (count, xor-hash) checksum, never the labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    driver_threshold: int = 500_000,
) -> DataFrame:
    """Label every node reachable through ``edges`` with the MIN node id
    of its component (exact fixpoint — deterministic). Returns (node,
    cluster). Nodes = every id appearing on either side; isolated docs
    are the caller's no-op set and are not materialized here.

    An edge list of at most ``driver_threshold`` edges (a few tens of
    MB) is collected and closed by an exact union-find on the driver;
    a larger one runs the distributed two-phase rounds
    (``driver_threshold=0`` forces them). Both produce identical
    labels."""
    # Persist the edge list before sizing it: the pair-generation plan
    # upstream (LSH verify) is the expensive part, and the size probe
    # and the union-find collect / two-phase rounds would each re-run it.
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).persist()
    try:
        if und.count() <= driver_threshold:
            return _driver_union_find(und)
        return _two_phase_cc(und)
    finally:
        und.unpersist()


def _two_phase_cc(und: DataFrame, *, max_rounds: int = 30) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the distributed path: round count is O(log n) in
    component size instead of O(diameter), so a pathological chain
    graph converges in ~log₂(n) alternations where min-label
    propagation would need n sweeps.

    Each round is two groupBy-join passes over the (metadata-scale)
    edge list, kept canonical as (hi > lo) pairs:
     - large-star: for every node u, link each LARGER neighbor to
       m(u) = min(Γ(u) ∪ {u})
     - small-star: for every center hi, link hi and each of its
       smaller neighbors to the smallest of them
    Both preserve connectivity and strictly shrink label distance;
    the fixpoint is a star forest rooted at each component's min id.
    Convergence is detected by a (count, xor-of-hash) checksum of
    the canonical edge set — cheaper than a two-sided exceptAll and
    collision-safe far beyond any real edge-list size. Returns
    (node, cluster) labels identical to the union-find's min-label
    fixpoint."""
    # Eager localCheckpoint, NOT persist: each round references E 16×
    # (sym 2×, ls 4× via sym⋈groupBy(sym), ss 4× via ls⋈groupBy(ls)),
    # and persist() leaves the logical plan intact — analysis cost
    # would grow 16^round and Catalyst hangs by round 2 (measured).
    # Checkpointing cuts lineage so every round plans against a leaf.
    E = (
        und.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def checksum(df: DataFrame) -> tuple:
        # bit_xor, not sum: xxhash64 spans the full int64 range and a
        # SUM overflows under ANSI mode; XOR is order-insensitive and
        # overflow-free.
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("hi", "lo")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = checksum(E)
    converged = False
    for _ in range(max_rounds):
        # large-star over the symmetrized neighborhoods
        sym = E.select(F.col("hi").alias("a"), F.col("lo").alias("b")).unionByName(
            E.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        )
        mins = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        ls = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("hi"), F.col("m").alias("lo"))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
            .persist()
        )
        # small-star over the canonical (hi → smaller neighbors) stars
        smins = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = ls.join(smins, "hi")
        ss = (
            joined.select(F.col("hi").alias("a"), F.col("m").alias("b"))
            .unionByName(
                joined.where(F.col("lo") != F.col("m")).select(
                    F.col("lo").alias("a"), F.col("m").alias("b")
                )
            )
            .where(F.col("a") != F.col("b"))
            .select(F.col("a").alias("hi"), F.col("b").alias("lo"))
            .distinct()
            .localCheckpoint(eager=True)  # materialize + cut lineage
        )
        cur = checksum(ss)
        ls.unpersist()
        E.unpersist()  # checkpointed blocks are no longer needed
        E = ss
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        E.unpersist()
        raise RuntimeError(
            f"two-phase connected components did not converge in "
            f"{max_rounds} rounds — max_rounds bounds log2(component "
            "size), so this indicates a bug or checksum instability, "
            "not a deep graph"
        )
    # Fixpoint is a star forest: every non-root appears as hi with its
    # root as lo; roots appear only on the lo side. One symmetric
    # min-pass reads the labels off (and gives roots themselves).
    sym = E.select(F.col("hi").alias("a"), F.col("lo").alias("b")).unionByName(
        E.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    )
    labels = sym.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("cluster")
    ).select(F.col("a").alias("node"), "cluster")
    # The u != v canonicalization dropped SELF-LOOP-ONLY nodes from the
    # star forest, but the contract ("nodes = every id appearing on
    # either side") labels them (node, node) in the union-find path —
    # union the stragglers back in (ADVICE r3).
    all_nodes = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .distinct()
    )
    labels = labels.unionByName(
        all_nodes.join(labels, "node", "left_anti").select(
            "node", F.col("node").alias("cluster")
        )
    )
    # Materialize before releasing the edge cache backing the lineage.
    labels = labels.persist()
    labels.count()
    E.unpersist()
    return labels


def _driver_union_find(und: DataFrame) -> DataFrame:
    """Exact union-find over a collected edge list; roots are kept as
    the component minimum so labels match the two-phase fixpoint
    bit-for-bit. Output schema mirrors the input id type."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in und.collect():
        u, v = row["u"], row["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo  # min id stays root

    id_type = und.schema["u"].dataType
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("node", id_type, False),
            T.StructField("cluster", id_type, False),
        ]
    )
    rows = [(n, find(n)) for n in parent]
    # Ship the labels back as a JVM-local frame: a plain row-list
    # createDataFrame builds a Python-RDD-backed frame whose every
    # downstream task spins a Python worker (measured 12s for a
    # 32-task aggregate over ~500 rows).
    return local_frame(und.sparkSession, rows, schema)
