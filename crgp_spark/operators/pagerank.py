"""PageRank over the influence-edge table (north-rule extension; the
reference computes only the edge table itself).

Two interchangeable physical paths, one logical algorithm
(power iteration with damping ``α`` and dangling-mass redistribution)::

    rank'(v) = (1-α)/N + α * ( Σ_{u→v} rank(u)/outdeg(u) + dangling/N )

converged when ``max_v |rank'(v) - rank(v)| < tol``.

- ``pagerank`` (default, "csr"): salted per-partition CSR blocks; the
  gather-scatter runs as a vectorized NumPy kernel over Arrow batches
  (``applyInPandas``), with blocks held in executor-process memory across
  supersteps (see operators/pack.py) — the engine path the north rule
  specifies. Per superstep: one exchange-free state-distribution join, one
  Arrow kernel with in-kernel map-side combine, one shuffle
  (``groupBy(dst)``), then exchange-free joins against cached vertex and
  old-state tables.
- ``pagerank_df``: the same logical plan in pure DataFrame ops (JVM
  whole-stage codegen, no Python) — used to cross-check the kernel path
  and as a baseline in benchmarks.

Determinism (SURVEY.md R2): the in-kernel combine sums via
``np.bincount`` in sorted-dst order (fixed per partition); residual
cross-partition reorder noise is ~1e-15, far under the 1e-6 tolerance, so
results are `allclose`-stable across parallelism levels.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crgp_spark.config import EngineConfig
from crgp_spark.operators.pack import load_block, pack_csr, placement
from crgp_spark.plans.superstep import (
    BROADCAST_STATE_MAX_VERTICES,  # noqa: F401  (re-export; policy + docs live in superstep.py)
    LoopResult,
    StepOutcome,
    _release_stale_checkpoints,
    observed_checkpoint as _observed_checkpoint,
    run_loop,
    state_hint as _state_hint,
)


MSG_SCHEMA = T.StructType(
    [
        T.StructField("part", T.IntegerType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("partial", T.DoubleType(), False),
    ]
)


def _make_gather(pack_path: str, pack_id: str | None = None):
    """Per-partition gather-scatter kernel: ranks of this partition's
    sources in, per-destination partial contributions out (map-side
    combined in sorted-dst order)."""

    def gather(pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(pdf["part"].iloc[0])
        blk = load_block(pack_path, part, pack_id)
        src_ids, indptr, dst, deg = (
            blk["src_ids"],
            blk["indptr"],
            blk["dst"],
            blk["src_deg"],
        )
        # Align incoming ranks to the block's sorted source order.
        order = np.argsort(pdf["src"].to_numpy(), kind="stable")
        src = pdf["src"].to_numpy()[order]
        rank = pdf["rank"].to_numpy()[order]
        if len(src) == len(src_ids) and np.array_equal(src, src_ids):
            w = rank / deg
        else:  # partial state delivery — align sparsely
            pos = np.searchsorted(src_ids, src)
            w = np.zeros(len(src_ids), dtype=np.float64)
            valid = (pos < len(src_ids)) & (src_ids[np.minimum(pos, len(src_ids) - 1)] == src)
            w[pos[valid]] = rank[valid] / deg[pos[valid]]
        contrib = np.repeat(w, np.diff(indptr))
        uniq, inv = np.unique(dst, return_inverse=True)
        sums = np.bincount(inv, weights=contrib, minlength=len(uniq))
        return pd.DataFrame(
            {"part": np.full(len(uniq), part, dtype=np.int32), "dst": uniq, "partial": sums}
        )

    return gather


def vertex_universe(edges: DataFrame, cfg: EngineConfig) -> DataFrame:
    return (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
        .repartition(cfg.shuffle_partitions, "vid")
    )


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
    resume: bool = False,
    algo_name: str = "pagerank",
    reuse_pack: bool = False,
) -> LoopResult:
    """CSR-kernel PageRank with delta checkpoints, lineage and resume.

    ``reuse_pack`` reuses existing CSR blocks at the pack path (e.g.
    packed ahead of time by a bench harness that times the pack phase
    separately, mirroring the reference's graph-load vs
    retweet-process phase split, ``statistics.rs:24-37``).

    Returns state ``(vid, rank)``; ranks sum to 1.
    """
    cfg = cfg or EngineConfig()
    pack_path = os.path.join(cfg.checkpoint_dir, algo_name, "graph")

    stats_file = os.path.join(pack_path, "_pack_stats.json")
    if not ((resume or reuse_pack) and os.path.exists(stats_file)):
        pack_stats = pack_csr(edges.select("src", "dst"), cfg, pack_path)
    else:
        import json

        with open(stats_file) as f:
            pack_stats = json.load(f)

    blocks_meta = {
        int(r["part"]): int(r["n_edges"])
        for r in spark.read.parquet(pack_path).select("part", "n_edges").collect()
    }
    mean_edges = max(pack_stats["mean_edges"], 1.0)

    verts = vertex_universe(edges, cfg).persist()
    n = verts.count()
    pl = placement(edges.select("src", "dst"), cfg).persist()
    pl.count()
    gather = _make_gather(pack_path, pack_stats.get("pack_id"))
    alpha, tol = cfg.damping, cfg.tol
    if cfg.tol_mode == "scaled":
        tol = tol / n

    def init_state() -> DataFrame:
        return verts.select("vid", F.lit(1.0 / n).alias("rank"))

    def step(state: DataFrame, it: int) -> StepOutcome:
        # shuffle_hash hints on every per-iteration state join: with a
        # generous autoBroadcastJoinThreshold (session.py, 64m) Catalyst
        # would BROADCAST the |V|-row state each superstep — shipping
        # the whole state to every executor per iteration and
        # accumulating undropped broadcast maps until bounded executor
        # heaps OOM (seen at ~16 supersteps under local-cluster).
        # The co-partitioned shuffle join is the exchange-minimal plan.
        ranks_parts = pl.join(
            _state_hint(state, n), pl["src"] == state["vid"]
        ).select("part", "src", "rank")
        msgs = ranks_parts.groupBy("part").applyInPandas(gather, MSG_SCHEMA).persist()

        # ONE action per superstep for both the dangling-mass total and
        # the per-partition lineage counts (action count per superstep is
        # the scalability bottleneck of any Spark iterative loop).
        part_rows = msgs.groupBy("part").agg(
            F.count(F.lit(1)).alias("messages_sent"),
            F.sum("partial").alias("part_sum"),
        ).collect()
        total_contrib = float(sum(r["part_sum"] or 0.0 for r in part_rows))
        n_msgs = int(sum(r["messages_sent"] for r in part_rows))
        dangling = max(0.0, 1.0 - total_contrib)

        sums = msgs.groupBy("dst").agg(F.sum("partial").alias("in_contrib"))
        new_state = (
            verts.join(_state_hint(sums, n), verts["vid"] == sums["dst"], "left")
            .select(
                "vid",
                (
                    F.lit((1.0 - alpha) / n)
                    + F.lit(alpha)
                    * (F.coalesce(F.col("in_contrib"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank_new"),
            )
            .join(
                _state_hint(
                    state.select("vid", F.col("rank").alias("rank_old")), n
                ),
                "vid",
            )
            .select(
                "vid",
                F.col("rank_new").alias("rank"),
                # `_changed` drives delta-checkpoint content and must be
                # EXACT (any bit change) — filtering by tolerance here
                # would drop sub-tol drift and corrupt resumed state.
                (F.col("rank_new") != F.col("rank_old")).alias("_changed"),
                F.abs(F.col("rank_new") - F.col("rank_old")).alias("_delta"),
            )
        )
        new_state = new_state.localCheckpoint(eager=True)
        agg = new_state.agg(
            F.max("_delta").alias("max_delta"),
            F.sum((F.col("_delta") > tol).cast("long")).alias("frontier"),
        ).first()
        msgs.unpersist()

        max_delta = float(agg["max_delta"] or 0.0)
        frontier = int(agg["frontier"] or 0)
        scanned = [blocks_meta.get(int(r["part"]), 0) for r in part_rows]
        lineage = pd.DataFrame(
            {
                "algo": algo_name,
                "iteration": it,
                "partition_id": [int(r["part"]) for r in part_rows],
                "edges_scanned": scanned,
                "messages_sent": [int(r["messages_sent"]) for r in part_rows],
                "frontier_size": frontier,
                "skew_ratio": [e / mean_edges for e in scanned],
            }
        )
        metrics = {
            "max_delta": max_delta,
            "frontier": frontier,
            "messages": n_msgs,
            "dangling_mass": dangling,
            "converged": max_delta < tol,
        }
        return StepOutcome(new_state.drop("_delta"), lineage, metrics)

    result = run_loop(spark, algo_name, cfg, init_state, step, resume=resume)
    verts.unpersist()
    pl.unpersist()
    return result


def pagerank_df(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
    max_iterations: int | None = None,
    fixed_iterations: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Pure-DataFrame PageRank (no Python in the loop body) — reference
    implementation for cross-checks and the JVM-only baseline in
    benchmarks. ``fixed_iterations`` disables the convergence test (used
    by the DuckDB-oracle driver query, whose SQL unrolls the same fixed
    number of iterations). Returns ``(vid, rank)``.

    ``weight_col`` names an (integer-typed, for cross-engine exactness
    of the out-mass sums) edge-weight column: rank mass then flows
    proportionally to weight instead of uniformly — weighted PageRank;
    a vertex is dangling iff it has no out-edge at all. Plan shape is
    identical to the unweighted loop (the per-edge expression becomes
    ``rank·w/out_w``)."""
    cfg = cfg or EngineConfig()
    alpha, tol = cfg.damping, cfg.tol

    if weight_col is None:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
        e_cols = ["src", "dst"]
    else:
        # ADVICE r3: a vertex whose weights sum to <= 0 is NOT dangling
        # (it has out-edges) yet divides by out_deg = 0 — its mass would
        # silently become NULL and vanish. Malformed weights fail loudly
        # instead: the contract is weight > 0 per edge.
        n_bad = edges.filter(
            F.col(weight_col).isNull() | (F.col(weight_col) <= 0)
        ).count()
        if n_bad:
            raise ValueError(
                f"pagerank_df: {n_bad} edge(s) have NULL or non-positive "
                f"{weight_col!r}; weighted PageRank requires weight > 0 "
                "per edge (rank mass would vanish through out_deg = 0)"
            )
        deg = edges.groupBy("src").agg(F.sum(weight_col).alias("out_deg"))
        e_cols = ["src", "dst", weight_col]
    # (tol is rescaled after n is known below when tol_mode == "scaled")
    e = (
        edges.select(*e_cols)
        .join(deg, "src")
        .repartition(cfg.shuffle_partitions, "src")
        .persist()
    )
    # Loop state (vid, rank, _dangling) over the whole vertex universe.
    # The static dangling flag (no out-edge) rides along, so each step's
    # ONE left join state ⋈ Σmessages yields the new rank, its delta
    # against the old rank and the next step's dangling mass; the two
    # scalars are observed on the step's checkpoint job.
    flags = (
        vertex_universe(edges, cfg)
        .join(
            deg.select(F.col("src").alias("vid"), F.lit(True).alias("_out")),
            "vid",
            "left",
        )
        .select("vid", F.col("_out").isNull().alias("_dangling"))
        .persist()
    )
    r = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if("_dangling").alias("n_dangling"),
    ).first()
    n = int(r["n"])
    if cfg.tol_mode == "scaled":
        tol = tol / n
    ranks = flags.withColumn("rank", F.lit(1.0 / n))
    dang = r["n_dangling"] / n

    partial = (
        F.col("rank") / F.col("out_deg")
        if weight_col is None
        else F.col("rank") * F.col(weight_col) / F.col("out_deg")
    )
    n_iter = fixed_iterations or max_iterations or cfg.max_iterations
    for it in range(n_iter):
        # shuffle_hash above the broadcast cap: broadcasting the |V|-row
        # state per iteration is the wrong plan at scale (see the CSR
        # step comment and plans/superstep.state_hint).
        msgs = e.join(
            _state_hint(ranks.select("vid", "rank"), n),
            F.col("src") == F.col("vid"),
        ).select("dst", partial.alias("partial"))
        sums = msgs.groupBy("dst").agg(F.sum("partial").alias("in_contrib"))
        rank_new = F.lit((1.0 - alpha) / n) + F.lit(alpha) * (
            F.coalesce(F.col("in_contrib"), F.lit(0.0)) + F.lit(dang / n)
        )
        # 4 jobs per step at sf0.01-like sizes (broadcast of the state,
        # the message shuffle, broadcast of the sums, the checkpoint);
        # the scalars add none
        ranks, m = _observed_checkpoint(
            ranks.join(_state_hint(sums, n), F.col("vid") == F.col("dst"), "left")
            .select(
                "vid",
                "_dangling",
                F.col("rank").alias("_old"),
                rank_new.alias("rank"),
            ),
            f"pagerank_df step it={it}",
            columns=["vid", "rank", "_dangling"],
            delta=F.max(F.abs(F.col("rank") - F.col("_old"))),
            dang=F.sum(F.when(F.col("_dangling"), F.col("rank"))),
        )
        dang = float(m["dang"] or 0.0)
        if fixed_iterations is None and float(m["delta"] or 0.0) < tol:
            break
        # stale localCheckpoint blocks OOM bounded executor heaps in
        # long runs — see plans/superstep._release_stale_checkpoints
        _release_stale_checkpoints(spark, it)

    e.unpersist()
    flags.unpersist()
    return ranks.select("vid", "rank")


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    cfg: EngineConfig | None = None,
    fixed_iterations: int = 3,
) -> DataFrame:
    """Personalized PageRank: teleport (and dangling) mass returns to the
    ``sources`` set only, so scores measure proximity to the sources
    rather than global centrality — 'influence reach' when seeded with
    the conversation originators (the recommendation/expansion primitive
    built on the same reconstructed cascade edges).

    The loop state ``(vid, rank, is_src, _dangling)`` carries the
    static source and dangling flags, so an iteration is one left join
    state ⋈ Σmessages, and the next iteration's dangling mass is
    observed on the iteration's checkpoint job (as in ``pagerank_df``);
    under AQE each exchange and broadcast is a job of its own, so an
    iteration costs 4 Spark jobs (broadcast of the state, the message
    shuffle, broadcast of the sums, the checkpoint). The restart vector
    is uniform over sources.  Fixed iteration count — the driver oracle
    unrolls the identical recurrence in SQL.  Returns ``(vid, rank)``."""
    cfg = cfg or EngineConfig()
    alpha = cfg.damping

    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    e = (
        edges.select("src", "dst")
        .join(deg, "src")
        .repartition(cfg.shuffle_partitions, "src")
        .persist()
    )
    src_set = sources.select(F.col("vid").cast("long").alias("vid")).distinct()
    flags = (
        vertex_universe(edges, cfg)
        .join(src_set.withColumn("_s", F.lit(1)), "vid", "left")
        .join(
            deg.select(F.col("src").alias("vid"), F.lit(True).alias("_out")),
            "vid",
            "left",
        )
        .select(
            "vid",
            F.coalesce("_s", F.lit(0)).alias("is_src"),
            F.col("_out").isNull().alias("_dangling"),
        )
        .persist()
    )
    r = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_src").alias("s"),
        F.count_if(F.col("_dangling") & (F.col("is_src") == 1)).alias(
            "s_dangling"
        ),
    ).first()
    n, s = int(r["n"]), int(r["s"] or 0)
    if s == 0:
        raise ValueError("personalized_pagerank: no source vertex is in the graph")

    ranks = flags.withColumn("rank", F.col("is_src") / F.lit(float(s)))
    dang = r["s_dangling"] / float(s)

    for it in range(fixed_iterations):
        msgs = e.join(
            _state_hint(ranks.select("vid", "rank"), n),
            F.col("src") == F.col("vid"),
        ).select("dst", (F.col("rank") / F.col("out_deg")).alias("partial"))
        sums = msgs.groupBy("dst").agg(F.sum("partial").alias("in_contrib"))
        rank_new = F.col("is_src") * (
            F.lit((1.0 - alpha) / s) + F.lit(alpha) * F.lit(dang) / F.lit(float(s))
        ) + F.lit(alpha) * F.coalesce(F.col("in_contrib"), F.lit(0.0))
        ranks, m = _observed_checkpoint(
            ranks.join(_state_hint(sums, n), F.col("vid") == F.col("dst"), "left")
            .select("vid", "is_src", "_dangling", rank_new.alias("rank")),
            f"personalized_pagerank step it={it}",
            dang=F.sum(F.when(F.col("_dangling"), F.col("rank"))),
        )
        dang = float(m["dang"] or 0.0)
        _release_stale_checkpoints(spark, it)

    e.unpersist()
    flags.unpersist()
    return ranks.select("vid", "rank")
