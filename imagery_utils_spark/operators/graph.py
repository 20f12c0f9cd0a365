"""Distributed connected components — the cluster-resolution step a
near-duplicate dedup pipeline runs AFTER candidate-pair generation, so
that "A~B, B~C" collapses into one keep-group even when A and C never
shared an LSH bucket (the star-link caps in :mod:`dedup` keep members
reachable but only pairwise; this closes the transitive hull).

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014 — public).
Both steps are a single groupBy shuffle over the current edge set:

* large-star(u):  m = min(N(u) ∪ {u}); emit (v, m) for every neighbor
  v > u — strictly-larger neighbors re-point at the local minimum.
* small-star(u):  orient edges hi→lo; m = min(lo-neighbors of hi); emit
  (hi, m) and (lo_i, m) for the rest — small neighbors flatten onto it.

The edge set monotonically contracts onto per-component stars centered
at the component-minimum node in O(log² n) rounds — unlike naive
min-label propagation this is NOT bounded by graph diameter, so a
100M-node chain converges in ~dozens of rounds, not 100M.

Scale shape: each round is two shuffles on node id (groupBy min +
distinct); rows are (long, long) pairs only. Lineage is truncated every
round with ``localCheckpoint`` (on a real cluster: a reliable
checkpoint dir / write-out-and-reread — same contract). Convergence is
a driver-side count of changed edges per round (one scalar per round,
no data collected).

Reference kinship: the reference resolves overlapping-scene groups via
in-memory union-find over OGR intersection tests
(/root/reference/lib/dem.py, pgc_mosaic intersection passes); this is
the shuffle-native equivalent for graphs that don't fit one machine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "dedup_by_components"]


def _canon(e: DataFrame) -> DataFrame:
    """Undirected canonical form: (hi, lo), self-loops dropped."""
    return (e.filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"),
                    F.least("u", "v").alias("v"))
            .distinct())


def _large_star(e: DataFrame) -> DataFrame:
    """Emitted pairs (v, m) satisfy m ≤ u < v, so the output is ALREADY
    hi→lo oriented and self-loop-free — a plain distinct re-canonicalizes."""
    sym = e.unionByName(e.select(F.col("v").alias("u"),
                                 F.col("u").alias("v")))
    mins = (sym.groupBy("u")
            .agg(F.least(F.min("v"), F.first("u")).alias("m")))
    return (sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Input hi→lo oriented; emits (x, m) with m ≤ x — orientation again
    preserved, only the m's own self-loop needs dropping."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    j = e.join(mins, "u")
    to_min = j.select(F.col("v").alias("u"), F.col("m").alias("v"))
    hi_edge = mins.select(F.col("u"), F.col("m").alias("v"))
    return (to_min.unionByName(hi_edge)
            .filter(F.col("u") != F.col("v"))
            .distinct())


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 50,
                         out: str = "component") -> DataFrame:
    """Resolve ``edges`` (any orientation, duplicates fine) into
    (node, component) where component = min node id reachable.

    Every node appearing in ``edges`` gets a row; pass isolated nodes as
    self-loops if they must appear. Raises after ``max_iter`` rounds
    without convergence (log²-bounded, so 50 covers any realistic n).
    """
    # Materialize the input edge list ONCE (r6, guide §1.2): both the node
    # universe and the canonical edge set are derived from ``raw``, and an
    # un-materialized caller pipeline (LSH band join + verify UDFs in the
    # near-dup path) would otherwise execute end-to-end twice. The stored
    # frame is (long, long) rows — the same order of storage the first
    # round's checkpoint takes anyway.
    raw = edges.select(F.col(src).cast("long").alias("u"),
                       F.col(dst).cast("long").alias("v")
                       ).localCheckpoint(eager=True)
    # node universe from the RAW edges: a self-loop row is how callers
    # declare an isolated node, so collect nodes before dropping loops
    nodes = (raw.select(F.col("u").alias("node"))
             .unionByName(raw.select(F.col("v").alias("node")))
             .distinct().localCheckpoint(eager=True))
    e = _canon(raw).localCheckpoint(eager=True)
    n_e = e.count()
    for _ in range(max_iter):
        e2 = _small_star(_large_star(e))
        e2 = e2.localCheckpoint(eager=True)
        # converged when the canonical edge set is unchanged. Both frames
        # are distinct sets, so equal cardinality plus one empty
        # set-difference proves equality — one exceptAll per round, scalars
        # only, nothing collected
        n_e2 = e2.count()
        if n_e2 == n_e and e2.exceptAll(e).limit(1).count() == 0:
            e = e2
            break
        e, n_e = e2, n_e2
    else:
        raise RuntimeError(f"connected_components: no convergence "
                           f"in {max_iter} rounds")
    # stars: hi → component-min. Roots have no outgoing edge.
    assign = e.select(F.col("u").alias("node"), F.col("v").alias("c"))
    return (nodes.join(assign, "node", "left")
            .select("node", F.coalesce("c", "node").alias(out)))


def dedup_by_components(pairs: DataFrame, id_a: str = "id_a",
                        id_b: str = "id_b") -> DataFrame:
    """Near-dup keep/drop decision from a candidate-pair table: one
    (node, component, keep) row per clustered doc; keep = node is the
    component minimum (deterministic canonical representative)."""
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select("node", "component",
                     (F.col("node") == F.col("component")).alias("keep"))


def kcore(edges: DataFrame, k: int, iters: int, src: str = "src",
          dst: str = "dst") -> DataFrame:
    """k-core peeling: ``iters`` fixed rounds of "drop every node whose
    degree < k, then drop edges touching a dropped node".

    Returns (node, degree) for the nodes surviving all rounds, with the
    degree AFTER the last peel. With enough rounds this is exactly the
    k-core (Seidman 1983); a fixed unrolled count keeps the computation
    deterministic and lets the DuckDB oracle replay the identical
    relaxations as CTEs (same pattern as ``bfs_layers``/``pagerank``).

    Scale shape: each round is one groupBy(node) degree count plus two
    broadcast-able semi joins of the edge set against the survivor set
    (survivors are ≤ #nodes rows — tiny next to the edge set, and they
    only shrink). Edges stay (long, long); lineage is truncated per
    round like :func:`connected_components`. Peeling converges in
    O(#distinct degrees) rounds, far below diameter.

    Reference kinship: the reference's quality gates drop scenes below a
    score floor and re-evaluate overlap after removal
    (/root/reference/pgc_mosaic.py filter passes); k-core is the same
    "remove below-threshold, recompute, repeat" fixpoint on a graph.
    """
    # undirected: both orientations, exact dedupe, loops dropped
    a = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    e = (a.unionByName(a.select(F.col("v").alias("u"),
                                F.col("u").alias("v")))
         .filter(F.col("u") != F.col("v")).distinct()
         .localCheckpoint(eager=True))
    deg = e.groupBy("u").agg(F.count("*").alias("degree"))
    for _ in range(iters):
        keep = deg.filter(F.col("degree") >= k).select("u")
        e = (e.join(keep, "u", "semi")
             .join(keep.select(F.col("u").alias("v")), "v", "semi")
             .localCheckpoint(eager=True))
        deg = e.groupBy("u").agg(F.count("*").alias("degree"))
    return deg.select(F.col("u").alias("node"), "degree")
