"""Multi-source BFS: minimum hop distance from a source set.

The reference reconstructs influence CASCADES — the natural follow-up
question ("how far does influence travel from the originators?") is a
shortest-hops traversal, which the reference's users run downstream.
Implemented Pregel-style over DataFrames (reference epoch/probe loop:
``run.rs:118-129``, ``sync.rs:27-41``):

- state = discovered ``(vid, dist)`` rows (grows monotonically),
- frontier = the vertices discovered in the last superstep only,
- one superstep = frontier ⋈ edges (shuffle on ``src``) → candidate
  targets → anti-join against the state → new frontier at ``dist+1``.

Scale properties: the per-superstep join touches only the frontier's
out-edges (not the whole graph); both joins key on vertex id and
co-partition with the edge table's ``src`` hash partitioning; the
state side uses the shared ``state_hint`` policy (broadcast below 1M
rows, ``shuffle_hash`` above — never a sort-merge on a growing loop
state, and never an unbounded broadcast; see plans/superstep.py).
``localCheckpoint(eager=True)`` per superstep truncates the lineage
tree exactly like every other iterative operator here; the frontier
size rides on that checkpoint job as an observed metric
(``plans/superstep.observed_checkpoint``), so a superstep has no
separate count action.

The number of supersteps is the true eccentricity of the source set
plus one (the superstep that finds the frontier empty) — no tolerance
knob. A frontier still non-empty at the superstep cap raises
``BFSBudgetExhausted``: a capped BFS never returns partial distances.
Unreached vertices are absent from the output (callers can left-join
the vertex universe if they want NULL/∞ rows).

The cascade-local variant (one vectorized Bellman-Ford-style kernel
per conversation, no supersteps) lives in
``cascade_algos.cascade_bfs`` — exact for the conversation-partitioned
layout because influence edges never cross conversations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.plans.superstep import observed_checkpoint, state_hint


class BFSBudgetExhausted(RuntimeError):
    """The frontier was still non-empty after ``max_iterations``
    supersteps: the returned distances would miss every vertex deeper
    than the cap, so ``bfs_hops`` raises instead of truncating.
    Callers with an O(log n) alternative (``euler.connectivity_substrate``)
    catch it and switch paths."""


def bfs_hops(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    cfg: EngineConfig | None = None,
    max_iterations: int | None = None,
) -> DataFrame:
    """Minimum hop distance from any vertex in ``sources`` along
    directed ``(src, dst)`` edges. Returns ``(vid, dist)`` for every
    REACHED vertex (sources at dist 0).

    ``max_iterations`` caps the superstep count (default: the engine
    config's cap); the true fixpoint is reached when the frontier
    empties, which takes eccentricity + 1 supersteps. A frontier still
    non-empty at the cap raises ``BFSBudgetExhausted`` — never a
    silently partial ``dist``.
    """
    cfg = cfg or EngineConfig()
    cap = max_iterations or cfg.max_iterations

    e = (
        edges.select("src", "dst")
        .repartition(cfg.shuffle_partitions, "src")
        .persist()
    )
    dist, m = observed_checkpoint(
        sources.select(F.col("vid").cast("long").alias("vid"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("int")),
        "bfs_hops sources it=0",
        n=F.count(F.lit(1)),
    )
    frontier = dist
    n_state = m["n"]

    try:
        for it in range(cap):
            # frontier ⋈ edges on src: the frontier is the (usually
            # small) state side; candidates dedupe before the anti-join
            # so the state join sees each target once
            nxt, m = observed_checkpoint(
                e.join(
                    state_hint(frontier.select("vid"), n_state),
                    e.src == F.col("vid"),
                    "left_semi",
                )
                .select(F.col("dst").alias("vid"))
                .distinct()
                .join(state_hint(dist.select("vid"), n_state), "vid", "left_anti")
                .withColumn("dist", F.lit(it + 1).cast("int")),
                f"bfs_hops frontier it={it + 1}",
                n=F.count(F.lit(1)),
            )
            n_new = m["n"]
            if n_new == 0:
                break
            # no re-checkpoint of the accumulated state: dist stays a
            # shallow union of the already-checkpointed per-round
            # frontiers (K leaves after K rounds), so growing it is free
            # — only the new frontier ever materializes
            dist = dist.unionByName(nxt)
            frontier = nxt
            n_state += n_new
        else:
            raise BFSBudgetExhausted(
                f"bfs_hops: {n_new} vertices still on the frontier after "
                f"{cap} supersteps; raise max_iterations above the "
                "source set's eccentricity"
            )
    finally:
        e.unpersist()
    return dist
