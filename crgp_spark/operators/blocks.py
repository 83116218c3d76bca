"""Biconnected components (blocks) and articulation points — the
vertex-connectivity siblings of `bridges.py`, on the same
Euler-interval substrate and its two constructions (root-path
aggregates over the min-label wave's BFS forest when the wave drains
within ``UNROLL_MAX_DEPTH + 1`` rounds, else Borůvka forest +
list-ranked unrooted Euler tour).

Tarjan–Vishkin 1985 auxiliary-graph reduction, in interval units
(`euler.connectivity_substrate` supplies ``tin/tout/size/low/high``):

1. tree edges are identified by their CHILD vertex (a bijection —
   no synthetic edge ids, no pairing-function overflow);
2. auxiliary graph G' on the tree edges, with O(V + E) edges total:
   - **rule A** — for each non-tree edge ``{u, v}`` whose endpoints
     root DISJOINT subtrees (``tout(u) < tin(v)`` or vice versa):
     link tree-edge(u) — tree-edge(v) (both endpoints are non-roots:
     a root is an ancestor of its whole component);
   - **rule B** — for each tree edge (w, parent v) with v itself a
     non-root: link tree-edge(w) — tree-edge(v) iff some non-tree
     edge escapes subtree(v) from within subtree(w):
     ``low(w) < tin(v)`` or ``high(w) > tout(v)``.
   Non-tree edges with nested endpoints need no rule of their own:
   the fundamental-cycle path links up through rule B (every path
   vertex's subtree contains the descendant endpoint, whose reach
   includes the ancestor endpoint — the escape condition holds at
   each step).
3. blocks = `connected_components` over G'; two tree edges are in the
   same block iff connected (the Tarjan–Vishkin theorem).  Uncovered
   tree edges are the bridges and stay singleton blocks; a non-tree
   edge inherits the block of the tree edge above its deeper (larger
   ``tin``) endpoint — a member of its fundamental cycle.

This replaces the former fundamental-cycle cover construction, whose
cover table was O(E · tree depth) rows (fine at the measured depth-2
small-world workload, quadratic on deep graphs).  G' is O(V + E)
regardless of depth, and the substrate itself is O(log n) supersteps
on deep forests.

Block labels are the minimum tree-edge child vid in the block —
deterministic and oracle-checkable.  Articulation point = a vertex
incident to ≥ 2 distinct blocks (the block-cut-tree definition; leaf
and isolated vertices are incident to ≤ 1).

Scale: every join keys on a vertex id; G' edge generation is two
scan-speed filters over O(E) + O(V) rows; everything else is the
audited `connected_components`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.operators.bridges import _canonical
from crgp_spark.operators.components import connected_components
from crgp_spark.operators.euler import connectivity_substrate

__all__ = ["blocks", "articulation_points", "block_cut_tree"]


def blocks(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Every edge of the simple undirected graph with its biconnected
    component: ``(u, v, block)``, ``u < v``, ``block`` = the minimum
    tree-edge child vid of the block."""
    cfg = cfg or EngineConfig()
    und = _canonical(edges).persist()
    sub = connectivity_substrate(spark, und, cfg)
    tree = sub.filter(F.col("parent").isNotNull()).select(
        "vid", "parent",
        F.least("vid", "parent").alias("u"),
        F.greatest("vid", "parent").alias("v"),
    ).localCheckpoint(eager=True)
    nontree = und.join(
        tree.select("u", "v"), ["u", "v"], "left_anti"
    ).localCheckpoint(eager=True)

    # rule A: non-tree edges between disjoint subtrees
    su = sub.select(
        F.col("vid").alias("u"),
        F.col("tin").alias("_tu"), F.col("tout").alias("_ou"),
    )
    sv = sub.select(
        F.col("vid").alias("v"),
        F.col("tin").alias("_tv"), F.col("tout").alias("_ov"),
    )
    nt = nontree.join(su, "u").join(sv, "v").localCheckpoint(eager=True)
    rule_a = nt.filter(
        (F.col("_ou") < F.col("_tv")) | (F.col("_ov") < F.col("_tu"))
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"))

    # rule B: tree edge (w, v) with v non-root, some non-tree edge
    # escaping subtree(v) from within subtree(w)
    wrows = sub.filter(F.col("parent").isNotNull()).select(
        F.col("vid").alias("w"), "parent", "low", "high"
    )
    vrows = sub.filter(F.col("parent").isNotNull()).select(
        F.col("vid").alias("parent"),
        F.col("tin").alias("_tp"), F.col("tout").alias("_op"),
    )
    rule_b = (
        wrows.join(vrows, "parent")
        .filter((F.col("low") < F.col("_tp")) | (F.col("high") > F.col("_op")))
        .select(F.col("w").alias("src"), F.col("parent").alias("dst"))
    )
    comp = connected_components(
        spark, rule_a.unionByName(rule_b), cfg, algo_name="blocks_cc"
    )

    # tree edges: covered ones take their component label, bridges stay
    # singleton blocks labeled by their own child vid
    lab = comp.select(F.col("vid").alias("ch"), F.col("component"))
    tree_blocks = (
        tree.join(lab, tree.vid == lab.ch, "left")
        .select(
            "u", "v",
            F.coalesce("component", tree.vid).alias("block"),
        )
    )
    # non-tree edges inherit the block of the tree edge above their
    # deeper endpoint (a member of their fundamental cycle — always
    # labeled: a simple graph's fundamental cycle has ≥ 2 tree edges)
    deeper = nt.withColumn(
        "_d", F.when(F.col("_tu") >= F.col("_tv"), F.col("u")).otherwise(F.col("v"))
    )
    nt_blocks = (
        deeper.join(lab, deeper._d == lab.ch, "left")
        .select(
            "u", "v",
            F.coalesce("component", F.col("_d")).alias("block"),
        )
    )
    out = tree_blocks.unionByName(nt_blocks).localCheckpoint(eager=True)
    und.unpersist()
    return out


def articulation_points(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Every articulation point (cut vertex) of the simple undirected
    graph as ``(vid)`` — a vertex incident to at least two distinct
    blocks."""
    b = blocks(spark, edges, cfg)
    incident = b.select(F.col("u").alias("vid"), "block").unionByName(
        b.select(F.col("v").alias("vid"), "block")
    )
    return (
        incident.groupBy("vid")
        .agg(F.count_distinct("block").alias("nb"))
        .filter(F.col("nb") >= 2)
        .select("vid")
    )


def block_cut_tree(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """The block-cut tree: one ``(vid, block)`` edge per (articulation
    point, incident block) pair — the bipartite tree whose nodes are
    the blocks and the cut vertices, the standard decomposition the
    block family exists to produce (path queries, cut enumeration,
    cactus-style summaries all read it)."""
    b = blocks(spark, edges, cfg)
    incident = (
        b.select(F.col("u").alias("vid"), "block")
        .unionByName(b.select(F.col("v").alias("vid"), "block"))
        .distinct()
    )
    cuts = (
        incident.groupBy("vid")
        .agg(F.count_distinct("block").alias("nb"))
        .filter(F.col("nb") >= 2)
        .select("vid")
    )
    return incident.join(cuts, "vid", "left_semi")
