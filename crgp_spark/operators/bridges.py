"""Bridges and 2-edge-connected components of an undirected graph —
the cut-edge family (the classic complement of the articulation
toolbox: `components.py` answers "is it connected", `kcore.py` "how
dense", this module "which single edges hold it together").

A bridge is an edge whose removal disconnects its component; the
2-edge-connected components (2ECC) are the equivalence classes left
after deleting every bridge.  On a conversation influence graph the
bridges are exactly the influence links with no redundant path — the
single points of failure of information flow (reference semantics
context: the reconstructed cascade graph, reconstruct.rs:37-134, is
what users run such resilience questions against downstream).

Exact, deterministic, all-DataFrame pipeline (no hashing, no
randomness — unlike the XOR-sketch folklore trick, the output is
bit-reproducible and oracle-checkable):

1. **BFS spanning forest.** Roots = the component minimum vertex id;
   parent(v) = the MINIMUM neighbor one hop closer.  Deterministic, and
   BFS depth = source eccentricity — shallow for the small-world graphs
   this engine targets.  `euler.connectivity_substrate` builds it as
   one min-label wave (each vertex adopts the least smaller
   ``(label, sender)``; the component minimum's label travels along
   shortest paths), which also records every vertex's root path;
   `bfs_forest` builds the same forest from `connected_components`, the
   audited multi-source `bfs.bfs_hops` and a parent join, with no depth
   cap.
2. **Euler-tour interval labels + low/high** via
   `euler.connectivity_substrate` — O(V) label rows (replacing the
   former O(V · depth) ancestor closure, which was a genuine
   100×-scale soft spot on deep graphs).  Two constructions: when the
   wave drains within ``UNROLL_MAX_DEPTH + 1`` rounds, sizes, preorder
   and low/high are aggregates over the exploded root paths; else a
   Borůvka forest rooted by list ranking an unrooted Euler tour —
   O(log n) supersteps instead of O(depth).
3. **Low-link bridge test.** A tree edge above child ``c`` is a
   bridge iff NO non-tree edge crosses the subtree(c) boundary ⟺
   every single-hop non-tree reach from subtree(c) stays inside
   ``[tin(c), tout(c)]``: ``low(c) ≥ tin(c) AND high(c) ≤ tout(c)``
   (the Tarjan low-link criterion in interval units — integer-exact).
4. **2ECC** = `connected_components` over the non-bridge edges,
   isolated survivors self-labeled.

Semantics: bridges of the SIMPLE graph underlying the edge table
(parallel edges collapse; a true multi-edge is never a bridge, so
callers with multiplicity semantics should pre-filter count==1 pairs).

Scale: every join keys on a vertex id; loop state joins follow the
`state_hint` policy and every superstep localCheckpoints (CLAUDE.md
rules).  The budget caps raise loudly (`scc.py` precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.operators.bfs import bfs_hops
from crgp_spark.operators.components import connected_components
from crgp_spark.operators.euler import connectivity_substrate

__all__ = ["bfs_forest", "bridges", "two_edge_components"]


def _canonical(edges: DataFrame) -> DataFrame:
    """Simple undirected form: ``u < v``, self-loops and parallel
    edges dropped."""
    return (
        edges.select(
            F.least("src", "dst").cast("long").alias("u"),
            F.greatest("src", "dst").cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def bfs_forest(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
    max_iterations: int | None = None,
) -> DataFrame:
    """Deterministic BFS spanning forest of the undirected graph:
    ``(vid, comp, dist, parent)`` — one row per vertex touched by an
    edge, ``parent`` NULL exactly at the roots (the component-minimum
    vertices). Raises ``bfs.BFSBudgetExhausted`` when the BFS does not
    drain within ``max_iterations`` supersteps."""
    cfg = cfg or EngineConfig()
    und = _canonical(edges).persist()
    adj = (
        und.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionByName(und.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .persist()
    )
    try:
        # checkpointed once: comp feeds both the BFS roots and the
        # output join, and would otherwise re-run its final aggregation
        # per branch
        comp = connected_components(
            spark,
            und.select(F.col("u").alias("src"), F.col("v").alias("dst")),
            cfg, algo_name="bridges_cc",
        ).localCheckpoint(eager=True)
        roots = comp.select(F.col("component").alias("vid")).distinct()
        dist = bfs_hops(
            spark,
            adj.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            roots,
            cfg,
            max_iterations=max_iterations,
        )
        # parent(v) = MIN neighbor one hop closer — unique-tree determinism
        d0 = dist.select(F.col("vid").alias("pv"), F.col("dist").alias("pd"))
        parents = (
            dist.join(adj, dist.vid == adj.a)
            .join(d0, (F.col("b") == F.col("pv")) & (F.col("pd") == dist.dist - 1))
            .groupBy("vid", "dist")
            .agg(F.min("b").alias("parent"))
        )
        return (
            comp.join(dist, "vid")
            .join(parents.select("vid", "parent"), "vid", "left")
            .select("vid", F.col("component").alias("comp"), "dist", "parent")
            .localCheckpoint(eager=True)
        )
    finally:
        und.unpersist()
        adj.unpersist()


def bridges(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Every bridge of the simple undirected graph as ``(u, v)`` with
    ``u < v``."""
    cfg = cfg or EngineConfig()
    und = _canonical(edges).persist()
    sub = connectivity_substrate(spark, und, cfg)
    # tree edge above c is a bridge ⟺ no non-tree edge escapes
    # subtree(c): every single-hop reach stays inside [tin, tout]
    out = (
        sub.filter(F.col("parent").isNotNull())
        .filter(
            (F.col("low") >= F.col("tin")) & (F.col("high") <= F.col("tout"))
        )
        .select(
            F.least("vid", "parent").alias("u"),
            F.greatest("vid", "parent").alias("v"),
        )
    )
    out = out.localCheckpoint(eager=True)
    und.unpersist()
    return out


def two_edge_components(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """2-edge-connected components: ``(vid, ecc2)`` where ``ecc2`` is
    the minimum vertex id of the class — `connected_components` over
    the graph minus its bridges, bridge-stranded vertices self-labeled."""
    cfg = cfg or EngineConfig()
    und = _canonical(edges).persist()
    br = bridges(
        spark,
        und.select(F.col("u").alias("src"), F.col("v").alias("dst")),
        cfg,
    )
    keep = und.join(br, ["u", "v"], "left_anti")
    labeled = connected_components(
        spark,
        keep.select(F.col("u").alias("src"), F.col("v").alias("dst")),
        cfg,
        algo_name="ecc2_cc",
    ).select("vid", F.col("component").alias("ecc2"))
    verts = (
        und.select(F.col("u").alias("vid"))
        .unionByName(und.select(F.col("v").alias("vid")))
        .distinct()
    )
    singletons = (
        verts.join(labeled.select("vid"), "vid", "left_anti")
        .select("vid", F.col("vid").alias("ecc2"))
    )
    out = labeled.unionByName(singletons)
    und.unpersist()
    return out
