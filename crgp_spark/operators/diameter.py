"""Exact per-component graph diameter — double-sweep lower bounds +
the iFUB upper-bound descent (Crescenzi, Grossi, Habib, Lanzi, Marino
2013), batched across every component at once.

"What is the diameter" is the first global question a graph user asks
(the reference's users ask it of the reconstructed cascade graph,
reconstruct.rs:37-134 — how far does influence travel end to end?),
and `ecc2`'s radius-2 bound does not answer it.  Exact all-pairs BFS
is Θ(V·E) and unthinkable at scale; iFUB typically terminates after
eccentricity computations for a handful of vertices on small-world
graphs while remaining EXACT:

1. one grouped BFS from every component's root (= its minimum vid,
   the `connected_components` label) — all components advance in the
   same superstep wave;
2. double sweep: BFS from the farthest vertex ``w`` of each root
   (deterministic tie-break: min vid); ``ecc(w)`` is the classic
   lower bound, and the BFS levels from ``w`` drive the descent;
3. iFUB from root ``w``: process level sets in DESCENDING distance;
   batch-compute the eccentricity of every level-``i`` vertex (one
   grouped BFS keyed by candidate), fold into the lower bound, and
   close the component once ``lb ≥ 2·(i−1)`` — the iFUB theorem says
   no shallower vertex can see farther.  Components close
   independently; the loop runs until every component is closed.

Scale posture: every BFS is the engine's standard frontier ⋈ edges
superstep (state joins under `state_hint`, `localCheckpoint` per
superstep, loud budget raises — `scc.py` precedent); batching means
the superstep count is O(max eccentricity · iFUB rounds), independent
of the NUMBER of components.  The iFUB candidate BFS volume is
Σ reach(candidate) rows — bounded by level-set size × component size,
the published iFUB cost, which on small-world graphs collapses after
the top one or two levels.  Exact BFS is inherently O(eccentricity)
supersteps; deep-chain graphs pay that in any exact method.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.operators.components import connected_components
from crgp_spark.plans.superstep import (
    _release_stale_checkpoints,
    observed_checkpoint,
    state_hint,
)

__all__ = ["component_diameters"]


def _grouped_bfs(
    adj: DataFrame,
    n_adj: int,
    sources: DataFrame,
    max_iterations: int,
) -> DataFrame:
    """Multi-instance BFS: ``sources (key, vid)`` seeds one BFS per
    ``key``; all instances advance in the same superstep.  Returns
    ``(key, vid, dist)`` for every reached vertex.  ``adj`` is the
    symmetric ``(a, b)`` adjacency of ``n_adj`` (= 2|E|) rows, which
    sizes its join hint."""
    spark = adj.sparkSession
    dist = (
        sources.select("key", "vid")
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for it in range(max_iterations):
        nxt, m = observed_checkpoint(
            frontier.join(
                state_hint(
                    adj.select(F.col("a").alias("vid"), F.col("b")), n_adj
                ),
                "vid",
            )
            .select("key", F.col("b").alias("vid"))
            .distinct()
            .join(dist.select("key", "vid"), ["key", "vid"], "left_anti")
            .withColumn("dist", F.lit(it + 1).cast("int")),
            f"diameter bfs it={it + 1}",
            n=F.count(F.lit(1)),
        )
        if m["n"] == 0:
            return dist
        dist = dist.unionByName(nxt)
        frontier = nxt
        _release_stale_checkpoints(spark, it)
    raise RuntimeError(
        f"grouped BFS did not drain in {max_iterations} supersteps — "
        "raise the budget for graphs of this eccentricity"
    )


def component_diameters(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
    max_bfs_depth: int = 256,
    max_ifub_rounds: int = 64,
) -> DataFrame:
    """Exact diameter of every connected component of the simple
    undirected graph: ``(comp, n_vertices, diameter)`` with ``comp``
    the component-minimum vid."""
    cfg = cfg or EngineConfig()
    und = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj, m = observed_checkpoint(
        und.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionByName(und.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .repartition(cfg.shuffle_partitions, "a"),
        "diameter adjacency it=0",
        n=F.count(F.lit(1)),
    )
    n_adj = m["n"]
    comp, m = observed_checkpoint(
        connected_components(
            spark,
            und.select(F.col("u").alias("src"), F.col("v").alias("dst")),
            cfg,
            algo_name="diameter_cc",
        ).select("vid", F.col("component").alias("comp")),
        "diameter components it=0",
        n=F.count(F.lit(1)),
    )
    n = m["n"]
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("n_vertices"))

    # sweep 1: from every component root (= its min-vid label)
    roots = comp.filter(F.col("vid") == F.col("comp")).select(
        F.col("comp").alias("key"), "vid"
    )
    b1 = _grouped_bfs(adj, n_adj, roots, max_bfs_depth)
    # farthest vertex per component, deterministic (max dist, min vid)
    w = b1.groupBy("key").agg(
        F.max_by("vid", F.struct(F.col("dist"), (-F.col("vid")))).alias(
            "vid"
        )
    )
    # sweep 2: from w — the double-sweep lower bound AND the iFUB levels
    b2 = _grouped_bfs(adj, n_adj, w, max_bfs_depth).localCheckpoint(eager=True)
    # a component stays open while iFUB cannot yet close it; the open
    # count is observed on every state checkpoint
    is_open = (F.col("lb") < 2 * (F.col("i") - 1)) & (F.col("i") >= 1)
    state, m = observed_checkpoint(
        b2.groupBy(F.col("key").alias("comp"))
        .agg(F.max("dist").alias("lb"))
        .withColumn("i", F.col("lb")),
        "diameter ifub it=0",
        n_open=F.count_if(is_open),
    )
    # levels (comp, vid, lvl) from w — the candidate schedule
    levels = b2.select(
        F.col("key").alias("comp"), "vid", F.col("dist").alias("lvl")
    ).localCheckpoint(eager=True)

    for rnd in range(max_ifub_rounds):
        if m["n_open"] == 0:
            break
        # batch: every open component's level-i vertices get an
        # eccentricity via one grouped BFS keyed by candidate vid
        oc = state.filter(is_open).select(
            F.col("comp").alias("_oc"), F.col("i").alias("_oi")
        )
        cands = (
            levels.join(
                state_hint(oc, n),
                (levels.comp == F.col("_oc")) & (levels.lvl == F.col("_oi")),
            )
            .select(F.col("vid").alias("key"), F.col("vid"))
        )
        eccs = (
            _grouped_bfs(adj, n_adj, cands, max_bfs_depth)
            .groupBy("key")
            .agg(F.max("dist").alias("ecc"))
            .join(
                comp.select(F.col("vid").alias("key"), "comp"), "key"
            )
            .groupBy("comp")
            .agg(F.max("ecc").alias("best"))
        )
        folded = state.join(eccs, "comp", "left").select(
            "comp",
            F.greatest("lb", F.coalesce(F.col("best"), F.lit(0))).alias(
                "lb"
            ),
            "i",
        )
        # descend only while still open AGAINST THE NEW lower bound
        state, m = observed_checkpoint(
            folded.select(
                "comp",
                "lb",
                F.when(is_open, F.col("i") - 1).otherwise(F.col("i")).alias("i"),
            ),
            f"diameter ifub it={rnd + 1}",
            n_open=F.count_if(is_open),
        )
    else:
        raise RuntimeError(
            f"iFUB did not close every component in {max_ifub_rounds} "
            "rounds — raise the budget for graphs of this depth"
        )

    out = (
        sizes.join(
            state.select(
                "comp", F.col("lb").cast("long").alias("diameter")
            ),
            "comp",
        )
        .select("comp", "n_vertices", "diameter")
        .localCheckpoint(eager=True)
    )
    return out
