"""Euler-tour / DFS-interval labeling of spanning forests — the
scale-safe substrate of the connectivity family (`bridges.py`,
`blocks.py`).

Replaces the ancestor closure that previously backed bridges/blocks:
the closure materializes O(V · depth) (vid, anc) rows — fine on the
shallow small-world graphs this engine targets (measured depth 2 at
sf0.1), but O(V²) on a deep chain, a genuine 100×-scale failure on one
input class.  Interval labels answer the same questions in O(V) rows:

- ``tin(v)``  = preorder index of ``v`` inside its tree (root = 0),
- ``tout(v)`` = ``tin(v) + size(v) - 1`` = the largest preorder index
  in ``v``'s subtree,
- subtree test: ``x ∈ subtree(v) ⟺ tin(v) ≤ tin(x) ≤ tout(v)``,
- ``low/high(v)`` = min/max neighbor-``tin`` reachable from
  subtree(v) via a single non-tree edge (the Tarjan low-link values in
  interval units) — everything bridges and biconnectivity need
  (Tarjan & Vishkin 1985; reference semantics context: the
  reconstructed cascade graph of reconstruct.rs:37-134 is what users
  run these resilience questions against downstream).

Two constructions; `connectivity_substrate` probes the BFS forest for
at most ``UNROLL_MAX_DEPTH + 1`` supersteps and picks by whether it
drained:

* shallow (BFS depth ≤ ``UNROLL_MAX_DEPTH``): the BFS forest the
  DuckDB oracles replay, with the sizes / tin / low / high passes
  unrolled level-by-level into lazy Catalyst plans (~4·depth joins,
  one checkpoint per pass) under the child-sorted (ascending vid) DFS
  — exactly right for the shallow conversation graphs that dominate
  the workload.
* deep (the probe did not drain): a Borůvka spanning forest
  (O(log V) supersteps, `msf.py`) rooted by an UNROOTED Euler tour —
  circuit arcs linked by locally-computed next pointers, positions by
  pointer-doubling list ranking (Tarjan-Vishkin / JáJá §3), dense
  preorder by a global prefix count (`plans/prefix.py`), subtree
  min/max by a doubling sparse table over the preorder array.  No step
  is O(depth): a 10⁶-vertex chain takes ~21 doublings.

The consumers are spanning-tree independent, so both constructions
give every consumer the same answer (their ``tin`` orders differ).

Scale notes: every join keys on a vertex id or an integer array
position; list-ranking state is 2(V-1) arc rows; the sparse table is
O(V log V) rows built in O(log V) self-joins (each superstep
``localCheckpoint`` + ``reset_stats`` — state ⋈ state doubling is the
exact Catalyst-estimate-squaring case CLAUDE.md documents).  The only
per-key serial regions are the sibling-ordering and adjacency windows
(partitioned by vertex), bounded by the maximum degree — the same
bound the previous closure construction had.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.operators.bfs import BFSBudgetExhausted
from crgp_spark.plans.prefix import range_cumsum
from crgp_spark.plans.superstep import (
    _release_stale_checkpoints,
    observed_checkpoint,
    reset_stats,
    state_hint,
)

__all__ = ["connectivity_substrate", "UNROLL_MAX_DEPTH"]

#: Up to this BFS forest depth the substrate is the unrolled plan
#: (~4·depth joins, three jobs); the BFS probe runs one superstep more
#: (depth d drains in d + 1) and a probe that does not drain hands the
#: graph to the O(log V)-superstep Borůvka path.  Measured: target
#: conversation graphs sit at depth ≤ 8.
UNROLL_MAX_DEPTH = 12

#: Pointer-doubling cap: 2^64 arcs is beyond any input; hitting the
#: cap means a next-pointer cycle (corrupt forest) — raise loudly.
_MAX_DOUBLINGS = 64


# ---------------------------------------------------------------------------
# shallow path: one lazy plan


def _substrate_unrolled(
    forest: DataFrame, nontree: DataFrame, maxd: int
) -> DataFrame:
    """Substrate in THREE jobs: bottom-up sizes, top-down tin,
    bottom-up low/high — each pass unrolled over the
    ≤ ``UNROLL_MAX_DEPTH`` levels into one lazy plan and checkpointed
    once.  One checkpoint per PASS (not per level) keeps every plan
    linear in the depth: a single fully-lazy plan nests the passes
    cubically and OOMs Catalyst canonicalization at depth ~7."""
    levels = {
        d: forest.filter(F.col("dist") == d) for d in range(maxd + 1)
    }

    # pass 1 — bottom-up subtree sizes (linear chain of level joins)
    sizes: dict[int, DataFrame] = {}
    for d in range(maxd, -1, -1):
        base = levels[d].select("vid", "dist")
        if d == maxd:
            sizes[d] = base.withColumn("size", F.lit(1).cast("long"))
        else:
            csum = (
                levels[d + 1]
                .select("vid", "parent")
                .join(sizes[d + 1].drop("dist"), "vid")
                .groupBy("parent")
                .agg(F.sum("size").alias("_cs"))
                .withColumnRenamed("parent", "vid")
            )
            sizes[d] = base.join(csum, "vid", "left").select(
                "vid", "dist",
                (F.lit(1) + F.coalesce(F.col("_cs"), F.lit(0)))
                .cast("long")
                .alias("size"),
            )
    size_all = sizes[0]
    for d in range(1, maxd + 1):
        size_all = size_all.unionByName(sizes[d])
    size_all = size_all.localCheckpoint(eager=True)
    size_lv = {
        d: size_all.filter(F.col("dist") == d).drop("dist")
        for d in range(maxd + 1)
    }

    # pass 2 — top-down preorder tin: tin(v) = tin(parent) + 1 +
    # Σ sizes of lesser siblings (ascending-vid child order; the
    # sibling window is per-parent — bounded by the max degree)
    tins: dict[int, DataFrame] = {
        0: levels[0].select("vid", F.lit(0).cast("long").alias("tin"))
    }
    w_sib = (
        Window.partitionBy("parent")
        .orderBy("vid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    for d in range(1, maxd + 1):
        sib = (
            levels[d]
            .select("vid", "parent")
            .join(size_lv[d], "vid")
            .withColumn(
                "_pre", F.coalesce(F.sum("size").over(w_sib), F.lit(0))
            )
        )
        ptin = tins[d - 1].select(
            F.col("vid").alias("parent"), F.col("tin").alias("_ptin")
        )
        tins[d] = sib.join(ptin, "parent").select(
            "vid",
            (F.col("_ptin") + 1 + F.col("_pre")).cast("long").alias("tin"),
        )
    tin_all = tins[0]
    for d in range(1, maxd + 1):
        tin_all = tin_all.unionByName(tins[d])

    iv = (
        forest.join(size_all.drop("dist"), "vid")
        .join(tin_all, "vid")
        .withColumn("tout", (F.col("tin") + F.col("size") - 1).cast("long"))
        .localCheckpoint(eager=True)
    )

    # pass 3 — per-vertex non-tree reach in tin units, bottom-up min/max
    vals = _nontree_reach(iv, nontree).localCheckpoint(eager=True)
    lows: dict[int, DataFrame] = {}
    for d in range(maxd, -1, -1):
        base = vals.filter(F.col("dist") == d).select("vid", "nlow", "nhigh")
        if d == maxd:
            lows[d] = base.select(
                "vid",
                F.col("nlow").alias("low"),
                F.col("nhigh").alias("high"),
            )
        else:
            cagg = (
                levels[d + 1]
                .select("vid", "parent")
                .join(lows[d + 1], "vid")
                .groupBy("parent")
                .agg(
                    F.min("low").alias("_cl"), F.max("high").alias("_ch")
                )
                .withColumnRenamed("parent", "vid")
            )
            lows[d] = base.join(cagg, "vid", "left").select(
                "vid",
                F.least(
                    "nlow", F.coalesce(F.col("_cl"), F.col("nlow"))
                ).alias("low"),
                F.greatest(
                    "nhigh", F.coalesce(F.col("_ch"), F.col("nhigh"))
                ).alias("high"),
            )
    low_all = lows[0]
    for d in range(1, maxd + 1):
        low_all = low_all.unionByName(lows[d])

    return iv.join(low_all, "vid").select(
        "vid", "comp", "dist", "parent", "tin", "tout", "size", "low", "high"
    )


def _nontree_reach(iv: DataFrame, nontree: DataFrame) -> DataFrame:
    """Per-vertex single-hop non-tree reach in tin units:
    ``nlow/nhigh(v)`` = min/max of ``tin(v)`` and the ``tin`` of every
    non-tree neighbor of ``v``."""
    tinmap = iv.select("vid", "tin")
    nbrs = nontree.select(
        F.col("u").alias("vid"), F.col("v").alias("_nb")
    ).unionByName(
        nontree.select(F.col("v").alias("vid"), F.col("u").alias("_nb"))
    )
    reach = (
        nbrs.join(
            tinmap.select(
                F.col("vid").alias("_nb"), F.col("tin").alias("_nbtin")
            ),
            "_nb",
        )
        .groupBy("vid")
        .agg(F.min("_nbtin").alias("_nmin"), F.max("_nbtin").alias("_nmax"))
    )
    return iv.join(reach, "vid", "left").select(
        "vid", "dist",
        F.least("tin", F.coalesce(F.col("_nmin"), F.col("tin"))).alias("nlow"),
        F.greatest("tin", F.coalesce(F.col("_nmax"), F.col("tin"))).alias(
            "nhigh"
        ),
    )


# ---------------------------------------------------------------------------
# deep path: Borůvka forest, list-ranked unrooted Euler circuit,
# sparse-table subtree min/max


def _rank_arcs(state: DataFrame, n_arcs: int) -> DataFrame:
    """Pointer-doubled list ranking of Euler-circuit arcs.

    ``state``: ``(comp, t, h, nt, nh, dist)`` — one row per arc
    ``t → h`` with its successor arc ``nt → nh`` (NULL at the per-tree
    circuit tail) and ``dist`` initialized 1 (0 at the tail).  Returns
    ``(comp, t, h, pos)`` with ``pos`` = 0-based circuit position."""
    spark = state.sparkSession
    state = state.localCheckpoint(eager=True)
    for _it in range(_MAX_DOUBLINGS):
        done = state.filter(F.col("nt").isNull())
        active = state.filter(F.col("nt").isNotNull())
        tgt = state.select(
            F.col("t").alias("_jt"), F.col("h").alias("_jh"),
            F.col("nt").alias("_nt2"), F.col("nh").alias("_nh2"),
            F.col("dist").alias("_d2"),
        )
        upd = active.join(
            state_hint(tgt, n_arcs),
            (active.nt == F.col("_jt")) & (active.nh == F.col("_jh")),
        ).select(
            "comp", "t", "h",
            F.col("_nt2").alias("nt"),
            F.col("_nh2").alias("nh"),
            (F.col("dist") + F.col("_d2")).alias("dist"),
        )
        # the drain test rides on the checkpoint job
        state, m = observed_checkpoint(
            done.unionByName(upd),
            f"euler rank it={_it}",
            active=F.count(F.col("nt")),
        )
        state = reset_stats(state)
        _release_stale_checkpoints(spark, _it)
        if not m["active"]:
            break
    else:
        raise RuntimeError(
            f"Euler list ranking did not drain in {_MAX_DOUBLINGS} "
            "doublings — the forest's next-pointer graph has a cycle"
        )
    # dist = hops to the circuit tail; tail sits at L-1, head at 0
    lmax = state.groupBy("comp").agg(F.max("dist").alias("_lmax"))
    return state.join(lmax, "comp").select(
        "comp", "t", "h", (F.col("_lmax") - F.col("dist")).alias("pos")
    )


def _intervals_from_arcs(
    ranked: DataFrame, roots: DataFrame, cfg: EngineConfig
) -> DataFrame:
    """(vid, comp, parent, tin, tout, size) from ranked circuit arcs.

    Works for any Euler circuit of the forest cut at its root: the
    first entry into a non-root vertex is the min-position arc entering
    it and comes from its DFS parent; the final departure is the
    matching reverse arc.  ``roots``: ``(vid, comp)`` — one row per
    tree root."""
    ranked = ranked.localCheckpoint(eager=True)
    rootset = roots.select(F.col("vid").alias("h"))
    entries = (
        ranked.join(rootset, "h", "left_anti")
        .groupBy("h")
        .agg(
            F.min_by("t", "pos").alias("parent"),
            F.min("pos").alias("_pd"),
            F.first("comp").alias("comp"),
        )
    )
    ups = ranked.select(
        F.col("t").alias("h"), F.col("h").alias("parent"),
        F.col("pos").alias("_pu"),
    )
    nonroot = (
        entries.join(ups, ["h", "parent"])
        .select(
            F.col("h").alias("vid"), "comp", "parent", "_pd",
            ((F.col("_pu") - F.col("_pd") + 1) / 2).cast("long").alias("size"),
        )
    )
    # dense preorder: tin(c) = # first-entry arcs in comp at pos ≤ pos(entry(c))
    cum = range_cumsum(
        nonroot.withColumn("entry", F.lit(1)),
        ["comp", "_pd"],
        ["entry"],
        cfg.shuffle_partitions,
    )
    base = cum.groupBy("comp").agg((F.min("_cum_entry") - 1).alias("_base"))
    nonroot = cum.join(base, "comp").select(
        "vid", "comp", "parent", "size",
        (F.col("_cum_entry") - F.col("_base")).cast("long").alias("tin"),
    )
    lmax = ranked.groupBy("comp").agg(F.max("pos").alias("_lmax"))
    root_rows = (
        roots.join(lmax, "comp", "left")
        .select(
            "vid", "comp",
            F.lit(None).cast("long").alias("parent"),
            (F.coalesce((F.col("_lmax") + 1) / 2, F.lit(0)) + 1)
            .cast("long")
            .alias("size"),
            F.lit(0).cast("long").alias("tin"),
        )
    )
    return (
        nonroot.unionByName(root_rows)
        .withColumn("tout", (F.col("tin") + F.col("size") - 1).cast("long"))
        .localCheckpoint(eager=True)
    )


def _subtree_minmax_sparse(
    iv: DataFrame, nontree: DataFrame, cfg: EngineConfig
) -> DataFrame:
    """Attach ``low``/``high`` (subtree min/max of the single-hop
    non-tree reach) to interval rows ``iv`` via a doubling sparse table
    over the global dense preorder array (per-comp offsets make the
    positions globally dense; query ranges never cross a comp)."""
    iv, m = observed_checkpoint(
        iv, "euler deep intervals it=0", max_size=F.max("size")
    )
    vals = _nontree_reach(iv, nontree)
    sizes_c = iv.filter(F.col("parent").isNull()).select(
        "comp", F.col("size").alias("csz")
    )
    offs = range_cumsum(
        sizes_c, ["comp"], ["csz"], cfg.shuffle_partitions
    ).select("comp", (F.col("_cum_csz") - F.col("csz")).alias("_coff"))
    arr = (
        iv.join(vals.select("vid", "nlow", "nhigh"), "vid")
        .join(offs, "comp")
        .select(
            (F.col("_coff") + F.col("tin")).alias("g"),
            F.col("nlow").alias("lo"),
            F.col("nhigh").alias("hi"),
        )
        .localCheckpoint(eager=True)
    )
    max_size = m["max_size"] or 1
    n_levels = max(0, int(max_size - 1).bit_length())
    levels = [arr.withColumn("k", F.lit(0))]
    cur = arr
    for k in range(1, n_levels + 1):
        shift = 1 << (k - 1)
        shifted = cur.select(
            (F.col("g") - shift).alias("g"),
            F.col("lo").alias("_lo2"),
            F.col("hi").alias("_hi2"),
        )
        cur = reset_stats(
            cur.join(shifted, "g", "left")
            .select(
                "g",
                F.least("lo", F.coalesce(F.col("_lo2"), F.col("lo"))).alias(
                    "lo"
                ),
                F.greatest(
                    "hi", F.coalesce(F.col("_hi2"), F.col("hi"))
                ).alias("hi"),
            )
            .localCheckpoint(eager=True)
        )
        levels.append(cur.withColumn("k", F.lit(k)))
    table = levels[0]
    for lv in levels[1:]:
        table = table.unionByName(lv)

    # per-vertex subtree query: k = ⌊log₂ size⌋ via a broadcast
    # powers-of-two table (exact integer logic, no float log)
    pows = (
        iv.sparkSession.createDataFrame(
            [(k, 1 << k, (1 << (k + 1)) - 1) for k in range(n_levels + 1)],
            "k: int, p2: long, ub: long",
        )
    )
    q = (
        iv.join(offs, "comp")
        .join(
            F.broadcast(pows),
            (F.col("size") >= F.col("p2")) & (F.col("size") <= F.col("ub")),
        )
        .select(
            "vid",
            F.col("k").alias("_qk"),
            (F.col("_coff") + F.col("tin")).alias("_g1"),
            (F.col("_coff") + F.col("tin") + F.col("size") - F.col("p2")).alias(
                "_g2"
            ),
        )
    )
    t1 = table.select(
        F.col("k").alias("_qk"), F.col("g").alias("_g1"),
        F.col("lo").alias("_lo1"), F.col("hi").alias("_hi1"),
    )
    t2 = table.select(
        F.col("k").alias("_qk"), F.col("g").alias("_g2"),
        F.col("lo").alias("_lo2"), F.col("hi").alias("_hi2"),
    )
    lohi = (
        q.join(t1, ["_qk", "_g1"])
        .join(t2, ["_qk", "_g2"])
        .select(
            "vid",
            F.least("_lo1", "_lo2").alias("low"),
            F.greatest("_hi1", "_hi2").alias("high"),
        )
    )
    return iv.join(lohi, "vid").select(
        "vid", "comp", "dist", "parent", "tin", "tout", "size", "low", "high"
    )


# ---------------------------------------------------------------------------
# top level: BFS probe, then one of the two constructions


def connectivity_substrate(
    spark: SparkSession,
    und: DataFrame,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Spanning-forest interval substrate for the simple undirected
    graph ``und`` (canonical ``(u, v)``, ``u < v``), rooted at the
    component-minimum vertices.

    A BFS forest probe runs for at most ``UNROLL_MAX_DEPTH + 1``
    supersteps.  If it drains (depth ≤ ``UNROLL_MAX_DEPTH`` — the
    target small-world workload), the substrate is the unrolled plan
    over that BFS forest, the construction the DuckDB oracles replay.
    Otherwise it is a Borůvka spanning forest (O(log V) supersteps,
    `msf.py`) rooted by an UNROOTED Euler tour — next pointers from
    plain sorted cyclic adjacency, parent = tail of each vertex's
    first-entry arc — so no step is O(depth).  The final
    bridges/blocks/2ECC answers are spanning-tree-independent, so both
    constructions agree on every consumer's output (the deep tin
    ordering differs, which is invisible downstream).

    Returns ``(vid, comp, dist, parent, tin, tout, size, low, high)``:
    one row per vertex; ``low``/``high`` are the min/max ``tin`` seen
    by any single non-tree edge leaving ``v``'s subtree (including
    ``tin(v)`` itself, so they are always defined).  ``dist`` is NULL
    on the deep path — hop depths are a BFS notion.
    """
    from crgp_spark.operators.bridges import bfs_forest  # deferred: cycle

    cfg = cfg or EngineConfig()
    und = und.localCheckpoint(eager=True)
    # one components run serves both constructions: the BFS roots, and
    # the root test of the deep path's Euler rooting
    comp = _components(spark, und, cfg)
    try:
        forest = bfs_forest(
            spark,
            und.select(F.col("u").alias("src"), F.col("v").alias("dst")),
            cfg,
            max_iterations=UNROLL_MAX_DEPTH + 1,
            comp=comp,
        )
    except BFSBudgetExhausted:
        # the roots are every component's minimum vertex, so a BFS that
        # drains within the probe reaches every vertex: the drain
        # signal IS the coverage check
        return _deep_substrate(spark, und, cfg, comp)
    tree = forest.filter(F.col("parent").isNotNull()).select(
        F.least("vid", "parent").alias("u"),
        F.greatest("vid", "parent").alias("v"),
    )
    nontree = und.join(tree, ["u", "v"], "left_anti").localCheckpoint(
        eager=True
    )
    # NULL only for an empty graph, whose substrate is empty at depth 0
    maxd = forest.agg(F.max("dist")).collect()[0][0] or 0
    return _substrate_unrolled(forest, nontree, maxd).localCheckpoint(
        eager=True
    )


def _components(
    spark: SparkSession, und: DataFrame, cfg: EngineConfig
) -> DataFrame:
    """``(vid, component)`` of ``und``, checkpointed: it feeds several
    branches downstream."""
    from crgp_spark.operators.components import connected_components

    return connected_components(
        spark,
        und.select(F.col("u").alias("src"), F.col("v").alias("dst")),
        cfg,
        algo_name="euler_cc",
    ).localCheckpoint(eager=True)


def _deep_substrate(
    spark: SparkSession,
    und: DataFrame,
    cfg: EngineConfig,
    comp: DataFrame | None = None,
) -> DataFrame:
    """Deep-graph substrate: Borůvka forest + unrooted Euler rooting —
    O(log V) supersteps end to end, never O(depth). ``comp`` is the
    ``(vid, component)`` labelling of ``und`` if the caller has it."""
    from crgp_spark.operators.msf import minimum_spanning_forest

    if comp is None:
        comp = _components(spark, und, cfg)
    comp = comp.select("vid", F.col("component").alias("comp"))
    # w = 0 everywhere: the (w, u, v) total order makes this the unique
    # lexicographic-minimum spanning forest — deterministic
    fe = minimum_spanning_forest(
        spark,
        und.select(
            F.col("u").alias("src"), F.col("v").alias("dst"),
            F.lit(0).alias("w"),
        ),
        cfg,
    ).select("u", "v")
    fe, m = observed_checkpoint(
        fe, "euler deep forest it=0", n=F.count(F.lit(1))
    )
    n_tree = m["n"]
    nontree = und.join(fe, ["u", "v"], "left_anti").localCheckpoint(
        eager=True
    )

    # unrooted Euler circuit: arcs both ways; next(t→h) = (h → s) where
    # s = cyclic successor of t in h's sorted tree adjacency; cut the
    # circuit at the root's wrap-around so (root → min-neighbor) is the
    # head and (max-neighbor → root) the tail
    arcs0 = (
        fe.select(F.col("u").alias("t"), F.col("v").alias("h"))
        .unionByName(fe.select(F.col("v").alias("t"), F.col("u").alias("h")))
        .join(comp.select(F.col("vid").alias("h"), "comp"), "h")
    )
    w_adj = Window.partitionBy("h").orderBy("t")
    w_all = Window.partitionBy("h")
    arcs0 = arcs0.withColumn("_next_t", F.lead("t").over(w_adj)).withColumn(
        "_first_t", F.min("t").over(w_all)
    )
    # component labels are the component-minimum vid, so h == comp ⟺ root
    is_wrap = F.col("_next_t").isNull()
    is_root = F.col("h") == F.col("comp")
    state = arcs0.select(
        "comp", "t", "h",
        F.when(is_wrap & is_root, F.lit(None)).otherwise(F.col("h")).alias(
            "nt"
        ),
        F.when(is_wrap & is_root, F.lit(None))
        .otherwise(F.coalesce(F.col("_next_t"), F.col("_first_t")))
        .alias("nh"),
    ).withColumn(
        "dist",
        F.when(F.col("nt").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    ranked = _rank_arcs(state, 2 * n_tree)
    roots = comp.filter(F.col("vid") == F.col("comp")).select("vid", "comp")
    iv = _intervals_from_arcs(ranked, roots, cfg).withColumn(
        "dist", F.lit(None).cast("int")
    )
    return _subtree_minmax_sparse(iv, nontree, cfg).localCheckpoint(
        eager=True
    )
