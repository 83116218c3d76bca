"""k-truss decomposition by distributed edge-support peeling —
north-rule extension (the cohesion ladder above triangles: a k-truss is
the maximal subgraph where every edge closes >= k-2 triangles; Cohen
2008).  Where the k-core peels low-degree VERTICES, the k-truss peels
low-support EDGES, so it composes the triangle machinery with the
kcore loop shape.

Per round: edge supports come from one degree-oriented wedge join (the
same degeneracy-bounded shape as triangles.py — a hub of degree d
contributes O(d·degeneracy) wedges, not O(d²)) followed by a triple
explode and a map-side-combinable ``groupBy(edge)``; edges below k-2
are dropped and the (strictly shrinking) edge set re-checkpointed.
Convergence is the same count+xxhash64 checksum scalar as
kcore/components — no collects, no per-row Python.

``fixed_rounds`` pins the round count for oracle replay (the driver
gate unrolls the identical rounds in SQL via common-neighbor counts);
``None`` runs to the exact k-truss fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.operators.kcore import _digest, _digest_aggs
from crgp_spark.operators.triangles import oriented_edges
from crgp_spark.plans.superstep import observed_checkpoint


def edge_support(und: DataFrame) -> DataFrame:
    """(u, v, support) for every edge of the simple undirected graph
    ``und(u, v)`` with ``u < v``: the number of triangles the edge
    closes.  Degree-oriented wedge join + triple explode."""
    o = oriented_edges(und.select(F.col("u").alias("src"), F.col("v").alias("dst")))
    e1 = o.select(F.col("lo").alias("apex"), F.col("hi").alias("w1"))
    e2 = o.select(F.col("lo").alias("apex"), F.col("hi").alias("w2"))
    wedges = e1.join(e2.hint("shuffle_hash"), "apex").filter(
        F.col("w1") < F.col("w2")
    )
    tri = wedges.join(
        und.hint("shuffle_hash"),
        (F.col("w1") == F.col("u")) & (F.col("w2") == F.col("v")),
        "left_semi",
    )
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("apex", "w1").alias("u"),
                    F.greatest("apex", "w1").alias("v"),
                ),
                F.struct(
                    F.least("apex", "w2").alias("u"),
                    F.greatest("apex", "w2").alias("v"),
                ),
                F.struct(F.col("w1").alias("u"), F.col("w2").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    sup = tri_edges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("support"))
    return und.join(sup.hint("shuffle_hash"), ["u", "v"], "left").select(
        "u", "v", F.coalesce("support", F.lit(0)).alias("support")
    )


def ktruss(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 4,
    fixed_rounds: int | None = None,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Edges of the k-truss with their in-truss support:
    ``(u, v, support)``, ``u < v``.

    With ``fixed_rounds=R`` the result is the state after exactly R
    peel rounds (edges whose round-R support is >= k-2, with that
    support) — deterministic and SQL-replayable; the fixpoint result is
    the true k-truss."""
    und, m = observed_checkpoint(
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition(cfg.shuffle_partitions if cfg else 32, "u"),
        "ktruss edges it=0",
        **_digest_aggs(),
    )
    prev = _digest(m)
    max_rounds = fixed_rounds if fixed_rounds is not None else 10_000
    sup = edge_support(und)
    for it in range(max_rounds):
        sup = edge_support(und)
        # plan-tree truncation per round, as in every iterative op
        und, m = observed_checkpoint(
            sup.filter(F.col("support") >= k - 2).select("u", "v"),
            f"ktruss peel it={it + 1}",
            **_digest_aggs(),
        )
        cur = _digest(m)
        if fixed_rounds is None and cur == prev:
            break
        prev = cur
    return sup.filter(F.col("support") >= k - 2).select(
        "u", "v", F.col("support").cast("int").alias("support")
    )


def truss_decomposition(
    spark: SparkSession,
    edges: DataFrame,
    k_max: int = 5,
    rounds_per_k: int = 2,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Truss DECOMPOSITION under a pinned peel schedule: every edge of
    the simple undirected graph labeled with its trussness bucket —
    the ladder the single-``k`` :func:`ktruss` climbs one rung of.
    For k = 3..``k_max`` in turn, ``rounds_per_k`` support-peel rounds
    run on the surviving edge set; an edge dropped during the ``k``
    phase gets ``trussness = k - 1``, survivors of the last phase get
    ``trussness = k_max`` (read: >= k_max).  With the schedule pinned
    the result is deterministic and SQL-replayable — the same
    convention as ``ktruss(fixed_rounds=...)``; unbounded
    ``rounds_per_k`` would converge each rung to the true trussness.

    Scale shape: identical per-round cost to :func:`ktruss`
    (degeneracy-bounded wedge join + partial-agg groupBy), ×
    Σ rounds; each phase's removed set is one anti-join against the
    strictly-shrinking survivor set.  Returns ``(u, v, trussness)``.
    """
    if k_max < 3:
        raise ValueError(f"k_max must be >= 3, got {k_max}")
    und = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition(cfg.shuffle_partitions if cfg else 32, "u")
        .localCheckpoint(eager=True)
    )
    out = None
    for k in range(3, k_max + 1):
        start = und
        for _ in range(rounds_per_k):
            sup = edge_support(und)
            und = (
                sup.filter(F.col("support") >= k - 2)
                .select("u", "v")
                .localCheckpoint(eager=True)
            )
        removed = start.join(und, ["u", "v"], "left_anti").select(
            "u", "v", F.lit(k - 1).cast("int").alias("trussness")
        )
        out = removed if out is None else out.unionByName(removed)
    out = out.unionByName(
        und.select("u", "v", F.lit(k_max).cast("int").alias("trussness"))
    )
    return out
