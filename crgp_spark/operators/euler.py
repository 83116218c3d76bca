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

Two constructions; `connectivity_substrate` runs a min-label wave for
at most ``UNROLL_MAX_DEPTH + 1`` rounds and picks by whether it
drained:

* shallow (BFS depth ≤ ``UNROLL_MAX_DEPTH``): the wave's fixpoint is
  the BFS forest the DuckDB oracles replay (component-minimum roots,
  parent = least neighbour one hop closer), and every vertex carries
  its root path; sizes, the child-sorted (ascending vid) DFS ``tin`` and
  low/high are aggregates over the exploded ``(vid, ancestor)`` rows —
  at most ``(UNROLL_MAX_DEPTH + 1)·V`` of them, two checkpoints —
  exactly right for the shallow conversation graphs that dominate the
  workload.
* deep (the wave did not drain): a Borůvka spanning forest
  (O(log V) supersteps, `msf.py`) rooted by an UNROOTED Euler tour —
  circuit arcs linked by locally-computed next pointers, positions by
  pointer-doubling list ranking (Tarjan-Vishkin / JáJá §3), dense
  preorder by a global prefix count (`plans/prefix.py`), subtree
  min/max by a doubling sparse table over the preorder array.  No step
  is O(depth): a 10⁶-vertex chain takes ~21 doublings.

The consumers are spanning-tree independent, so both constructions
give every consumer the same answer (their ``tin`` orders differ).

Scale notes: every join keys on a vertex id or an integer array
position; the wave's state is V rows with paths of at most
``UNROLL_MAX_DEPTH + 1`` ids and a round sends at most 2E messages;
list-ranking state is 2(V-1) arc rows; the sparse table is
O(V log V) rows built in O(log V) self-joins (each superstep
``localCheckpoint`` + ``reset_stats`` — state ⋈ state doubling, like
the wave's state ⋈ messages-from-state, is the exact
Catalyst-estimate-squaring case CLAUDE.md documents).  The only
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

#: Up to this BFS forest depth the substrate is the min-label wave with
#: path-derived labels (root paths of at most depth + 1 ids); the wave
#: runs one round more (depth d drains in d + 1) and a wave that does
#: not drain hands the graph to the O(log V)-superstep Borůvka path.
#: Measured: target conversation graphs sit at depth ≤ 8.
UNROLL_MAX_DEPTH = 12

#: Pointer-doubling cap: 2^64 arcs is beyond any input; hitting the
#: cap means a next-pointer cycle (corrupt forest) — raise loudly.
_MAX_DOUBLINGS = 64


# ---------------------------------------------------------------------------
# shallow path: one min-label wave, labels from the root paths


def _wave_forest(und: DataFrame, cap: int) -> DataFrame:
    """BFS spanning forest of ``und`` with each vertex's root path:
    ``(vid, comp, dist, parent, path)``, ``path`` = root … ``vid``.

    A min-label wave.  Every vertex starts as its own label with
    ``path = [vid]``.  In round ``r`` the vertices that changed in round
    ``r - 1`` (``dist == r - 1``) send ``(comp, self, path)`` to their
    neighbours, and a vertex adopts the least ``(comp, sender)`` whose
    ``comp`` is below its own: ``parent`` = sender, ``dist`` = ``r``,
    ``path`` = the sender's path + ``[vid]``.  The component minimum's
    label moves one hop per round along shortest paths and nothing
    undercuts it, so at the fixpoint ``comp`` is the component minimum,
    ``dist`` the BFS hop count from it and ``parent`` the least
    neighbour one hop closer — the forest `bridges.bfs_forest` builds
    from components, BFS and a parent join.  Depth ``d`` changes nothing
    in round ``d + 1``; a wave still changing in round ``cap`` raises
    ``BFSBudgetExhausted``.  The changed count rides on each round's
    checkpoint job."""
    spark = und.sparkSession
    adj = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    state, m = observed_checkpoint(
        adj.select(F.col("a").alias("vid")).distinct().select(
            "vid",
            F.col("vid").alias("comp"),
            F.lit(0).alias("dist"),
            F.lit(None).cast("long").alias("parent"),
            F.array("vid").alias("path"),
        ),
        "euler wave it=0",
        n=F.count(F.lit(1)),
    )
    n = m["n"]
    for r in range(1, cap + 1):
        sent = state.filter(F.col("dist") == r - 1).select(
            F.col("vid").alias("a"),
            F.struct(
                F.col("comp").alias("c"),
                F.col("vid").alias("s"),
                F.col("path").alias("p"),
            ).alias("m"),
        )
        # the least (comp, sender) per receiver; the struct carries the
        # path array, so no hash aggregate applies whichever way it is
        # split
        best = (
            adj.join(state_hint(sent, n), "a")
            .groupBy(F.col("b").alias("vid"))
            .agg(F.min("m").alias("m"))
        )
        adopt = F.col("m.c") < F.col("comp")
        state, m = observed_checkpoint(
            state.join(state_hint(best, n), "vid", "left").select(
                "vid",
                F.when(adopt, F.col("m.c")).otherwise(F.col("comp")).alias(
                    "comp"
                ),
                F.when(adopt, F.lit(r)).otherwise(F.col("dist")).alias("dist"),
                F.when(adopt, F.col("m.s"))
                .otherwise(F.col("parent"))
                .alias("parent"),
                F.when(adopt, F.concat(F.col("m.p"), F.array("vid")))
                .otherwise(F.col("path"))
                .alias("path"),
            ),
            f"euler wave it={r}",
            changed=F.count(F.when(F.col("dist") == r, 1)),
        )
        # state ⋈ f(state) every round: pin the size estimate flat
        state = reset_stats(state)
        _release_stale_checkpoints(spark, r)
        if not m["changed"]:
            return state
    raise BFSBudgetExhausted(
        f"euler wave: {m['changed']} vertices still changed in round "
        f"{cap}; the forest is deeper than {cap - 1}"
    )


def _substrate_paths(forest: DataFrame, nontree: DataFrame) -> DataFrame:
    """Child-sorted (ascending vid) DFS labels of a wave forest in two
    checkpoints.  Each root path explodes into ``(vid, anc)`` rows — at
    most ``(UNROLL_MAX_DEPTH + 1)·V``, the path length being capped by
    the wave — and every label is an aggregate over them:

    - ``size(a)`` = the number of rows with ancestor ``a``;
    - ``tin(v) = dist(v) + Σ_{a ∈ path(v)} pre(a)``, where ``pre(a)`` is
      the sum of the sizes of ``a``'s lesser siblings (the recurrence
      ``tin(v) = tin(parent) + 1 + pre(v)`` summed down the path; the
      sibling window is per parent, bounded by the max degree);
    - ``low/high(a)`` = min/max of `_nontree_reach` over ``a``'s rows."""
    anc = forest.select("vid", F.explode("path").alias("anc"))
    size = anc.groupBy(F.col("anc").alias("vid")).agg(
        F.count(F.lit(1)).alias("size")
    )
    w_sib = (
        Window.partitionBy("parent")
        .orderBy("vid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # roots have pre 0: they stay out of the window (one partition
    # holding every root would be a serial region) and of the sum
    pre = (
        forest.filter(F.col("parent").isNotNull())
        .select("vid", "parent")
        .join(size, "vid")
        .select(
            F.col("vid").alias("anc"),
            F.coalesce(F.sum("size").over(w_sib), F.lit(0)).alias("_pre"),
        )
    )
    psum = anc.join(pre, "anc").groupBy("vid").agg(F.sum("_pre").alias("_ps"))
    iv = (
        forest.join(size, "vid")
        .join(psum, "vid", "left")
        .select(
            "vid", "comp", "dist", "parent",
            (F.col("dist") + F.coalesce(F.col("_ps"), F.lit(0)))
            .cast("long")
            .alias("tin"),
            F.col("size").cast("long").alias("size"),
        )
        .withColumn("tout", (F.col("tin") + F.col("size") - 1).cast("long"))
        .localCheckpoint(eager=True)
    )
    lohi = (
        anc.join(_nontree_reach(iv, nontree), "vid")
        .groupBy(F.col("anc").alias("vid"))
        .agg(F.min("nlow").alias("low"), F.max("nhigh").alias("high"))
    )
    return iv.join(lohi, "vid").select(
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
# top level: the wave, then one of the two constructions


def connectivity_substrate(
    spark: SparkSession,
    und: DataFrame,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Spanning-forest interval substrate for the simple undirected
    graph ``und`` (canonical ``(u, v)``, ``u < v``), rooted at the
    component-minimum vertices.

    A min-label wave runs for at most ``UNROLL_MAX_DEPTH + 1`` rounds.
    If it drains (depth ≤ ``UNROLL_MAX_DEPTH`` — the target
    small-world workload), its fixpoint is the BFS forest the DuckDB
    oracles replay, and the labels come from each vertex's root path.
    Otherwise the substrate is a Borůvka spanning forest (O(log V) supersteps,
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
    cfg = cfg or EngineConfig()
    und = und.localCheckpoint(eager=True)
    try:
        forest = _wave_forest(und, UNROLL_MAX_DEPTH + 1)
    except BFSBudgetExhausted:
        return _deep_substrate(spark, und, cfg)
    tree = forest.filter(F.col("parent").isNotNull()).select(
        F.least("vid", "parent").alias("u"),
        F.greatest("vid", "parent").alias("v"),
    )
    nontree = und.join(tree, ["u", "v"], "left_anti").localCheckpoint(
        eager=True
    )
    return _substrate_paths(forest, nontree).localCheckpoint(eager=True)


def _deep_substrate(
    spark: SparkSession, und: DataFrame, cfg: EngineConfig
) -> DataFrame:
    """Deep-graph substrate: Borůvka forest + unrooted Euler rooting —
    O(log V) supersteps end to end, never O(depth)."""
    from crgp_spark.operators.components import connected_components
    from crgp_spark.operators.msf import minimum_spanning_forest

    # checkpointed: comp feeds both the arc labels and the roots
    comp = (
        connected_components(
            spark,
            und.select(F.col("u").alias("src"), F.col("v").alias("dst")),
            cfg,
            algo_name="euler_cc",
        )
        .select("vid", F.col("component").alias("comp"))
        .localCheckpoint(eager=True)
    )
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
