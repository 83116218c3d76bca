"""Euler-tour interval substrate (operators/euler.py): the
scale-safe replacement for the former O(V·depth) ancestor closure.

Covers both constructions (the min-label wave forest with
path-derived labels, deep Borůvka + unrooted Euler rooting) against a
Python BFS forest and a sequential Python DFS replica — both also on
thousands of shuffled vertices in a thousand components or more, the
deep one past the range sampler's full-coverage point —
plus bridges/articulation on a mid-depth graph that takes the Borůvka
route, and the deep-graph regression the closure could not pass: a
1,000-deep chain, where BFS-forest construction alone would need
1,000 supersteps (the former path capped out and produced a partial
forest — wrong answers — long before its O(V·depth) row blowup even
mattered)."""

from __future__ import annotations

import collections
import random
import sys

import pytest
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.operators import euler
from crgp_spark.operators import bridges as bridges_mod
from crgp_spark.operators.blocks import articulation_points, blocks
from crgp_spark.operators.bridges import _canonical, bfs_forest, bridges
from tests.test_blocks import _brute as _brute_blocks
from tests.test_bridges import _brute_bridges


def _cfg(tmp_path):
    return EngineConfig(
        shuffle_partitions=4,
        graph_partitions=4,
        checkpoint_dir=str(tmp_path / "ckpt"),
        checkpoint_every=10_000,
    )


def _python_bfs_forest(pairs):
    """``vid -> (comp, dist, parent)`` of the simple graph: roots at the
    component minima, BFS hop counts, parent = the least neighbour one
    hop closer."""
    adj = collections.defaultdict(set)
    for u, v in pairs:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    out = {}
    for root in sorted(adj):
        if root in out:
            continue
        out[root] = (root, 0, None)
        frontier, d = [root], 0
        while frontier:
            d += 1
            nxt = [y for x in frontier for y in adj[x] if y not in out]
            for y in nxt:
                out[y] = (root, d, None)
            frontier = nxt
    return {
        v: (c, d, min(y for y in adj[v] if out[y][1] == d - 1) if d else None)
        for v, (c, d, _) in out.items()
    }


def _python_replica(forest_rows, nontree_rows):
    """Sequential child-sorted DFS: tin/tout/size/low/high per vertex."""
    sys.setrecursionlimit(100_000)
    children = collections.defaultdict(list)
    roots = []
    for r in forest_rows:
        if r["parent"] is None:
            roots.append(r["vid"])
        else:
            children[r["parent"]].append(r["vid"])
    for p in children:
        children[p].sort()
    tin, tout, size = {}, {}, {}
    for root in sorted(roots):
        ctr = [0]
        stack = [(root, False)]
        while stack:
            v, done = stack.pop()
            if done:
                tout[v] = ctr[0] - 1
                size[v] = tout[v] - tin[v] + 1
                continue
            tin[v] = ctr[0]
            ctr[0] += 1
            stack.append((v, True))
            for c in reversed(children.get(v, [])):
                stack.append((c, False))
    adjnt = collections.defaultdict(list)
    for u, v in nontree_rows:
        adjnt[u].append(v)
        adjnt[v].append(u)
    low, high = {}, {}

    def agg(v):
        lo = min([tin[v]] + [tin[x] for x in adjnt[v]])
        hi = max([tin[v]] + [tin[x] for x in adjnt[v]])
        for c in children.get(v, []):
            cl, ch = agg(c)
            lo, hi = min(lo, cl), max(hi, ch)
        low[v], high[v] = lo, hi
        return lo, hi

    for root in roots:
        agg(root)
    return tin, tout, size, low, high


def _check_substrate(sub_rows, forest_rows, nontree_rows):
    tin, tout, size, low, high = _python_replica(forest_rows, nontree_rows)
    assert len(sub_rows) == len(forest_rows)
    for r in sub_rows:
        assert (r["tin"], r["tout"], r["size"], r["low"], r["high"]) == (
            tin[r["vid"]], tout[r["vid"]], size[r["vid"]],
            low[r["vid"]], high[r["vid"]],
        ), f"vid {r['vid']}"


def _random_pairs(seed, n_verts, n_edges):
    rng = random.Random(seed)
    pairs = [(i, i + 1) for i in range(1, n_verts, 3)]
    pairs += [
        (rng.randrange(1, n_verts + 1), rng.randrange(1, n_verts + 1))
        for _ in range(n_edges)
    ]
    return pairs


def test_mid_depth_bridges_and_articulation(spark, tmp_path, monkeypatch):
    """BFS depth 26 — past the wave's depth cap, far short of the chain
    tests: the Borůvka route (``dist`` NULL in the substrate) must give
    the brute-force bridges and articulation points."""
    cfg = _cfg(tmp_path)
    pairs = [(i, i + 1) for i in range(1, 60)] + [(5, 25), (35, 50)]
    subs = []

    def recording(*args, **kwargs):
        sub = euler.connectivity_substrate(*args, **kwargs)
        subs.append(sub)
        return sub

    monkeypatch.setattr(bridges_mod, "connectivity_substrate", recording)
    df = spark.createDataFrame(pairs, "src: long, dst: long")
    got = sorted(map(tuple, bridges(spark, df, cfg).collect()))
    assert got == _brute_bridges(pairs)
    assert subs[0].filter(F.col("dist").isNotNull()).isEmpty()
    arts = {r["vid"] for r in articulation_points(spark, df, cfg).collect()}
    assert sorted(arts) == sorted(_brute_blocks(pairs)[1])


def test_deep_chain_bridges_within_budget(spark, tmp_path):
    """1,000-deep chain + two chords: the O(depth)-superstep BFS/closure
    path cannot finish this (1,000 supersteps for the forest alone); the
    deep path (Borůvka + unrooted Euler rooting + sparse-table RMQ) is
    O(log n) supersteps throughout and must answer exactly."""
    cfg = _cfg(tmp_path)
    n = 1000
    pairs = [(i, i + 1) for i in range(1, n)] + [(100, 300), (500, 900)]
    df = spark.createDataFrame(pairs, "src: long, dst: long")
    got = set(map(tuple, bridges(spark, df, cfg).collect()))
    want = {
        (i, i + 1)
        for i in range(1, n)
        if not (100 <= i < 300 or 500 <= i < 900)
    }
    assert got == want


def test_deep_chain_blocks_and_articulation(spark, tmp_path):
    """Blocks on a 400-deep chain with one chord: the cycle span is one
    block, every other edge its own bridge block; articulation points
    are all interior chain vertices plus the cycle endpoints."""
    from crgp_spark.operators.blocks import articulation_points

    cfg = _cfg(tmp_path)
    n = 400
    pairs = [(i, i + 1) for i in range(1, n)] + [(100, 300)]
    df = spark.createDataFrame(pairs, "src: long, dst: long")
    b = {(r["u"], r["v"]): r["block"] for r in blocks(spark, df, cfg).collect()}
    cycle_edges = [(i, i + 1) for i in range(100, 300)] + [(100, 300)]
    labels = {b[e] for e in cycle_edges}
    assert len(labels) == 1  # one biconnected block for the whole cycle
    for i in range(1, n):
        if not (100 <= i < 300):
            assert b[(i, i + 1)] not in labels
            assert len([1 for e, lb in b.items() if lb == b[(i, i + 1)]]) == 1
    arts = {
        r["vid"] for r in articulation_points(spark, df, cfg).collect()
    }
    want = {i for i in range(2, n) if not (100 < i < 300)}
    assert arts == want


def _many_component_pairs(seed, n_comps):
    """``n_comps`` small random components (a random tree of 4–10
    vertices plus two random extra edges each), vertex ids spread over
    a shuffled range, the pair list shuffled."""
    rng = random.Random(seed)
    ids = list(range(1, 12 * n_comps))
    rng.shuffle(ids)
    pairs = []
    for _ in range(n_comps):
        vs = [ids.pop() for _ in range(rng.randint(4, 10))]
        pairs += [(v, rng.choice(vs[:i])) for i, v in enumerate(vs) if i]
        pairs += [tuple(rng.sample(vs, 2)) for _ in range(2)]
    rng.shuffle(pairs)
    return pairs


@pytest.mark.parametrize(
    "shape",
    [
        "random",
        # 1,000 shuffled components of depth <= 9: waves from many roots
        # run side by side in every round
        "many_components",
    ],
)
def test_shallow_substrate_matches_python_dfs(spark, tmp_path, shape):
    """The min-label wave forest equals the Python BFS forest and
    `bfs_forest`; its path-derived labels equal the child-sorted DFS
    replica."""
    cfg = _cfg(tmp_path)
    if shape == "random":
        pairs = _random_pairs(3, 40, 50)
        df = spark.createDataFrame(pairs, "src: long, dst: long")
    else:
        pairs = _many_component_pairs(7, 1_000)
        df = spark.createDataFrame(pairs, "src: long, dst: long").repartition(8)
    und = _canonical(df).localCheckpoint(eager=True)
    want = _python_bfs_forest(pairs)
    # exercises the shallow path
    assert max(d for _, d, _ in want.values()) <= euler.UNROLL_MAX_DEPTH
    sub = euler.connectivity_substrate(spark, und, cfg).collect()
    assert len(sub) == len(want)
    assert {r["vid"]: (r["comp"], r["dist"], r["parent"]) for r in sub} == want
    forest = bfs_forest(
        spark, und.select(F.col("u").alias("src"), F.col("v").alias("dst")), cfg
    ).collect()
    assert {
        r["vid"]: (r["comp"], r["dist"], r["parent"]) for r in forest
    } == want
    tree = {
        (min(v, p), max(v, p))
        for v, (_, _, p) in want.items()
        if p is not None
    }
    simple = {(min(u, v), max(u, v)) for u, v in pairs if u != v}
    _check_substrate(
        sub,
        [{"vid": v, "parent": p} for v, (_, _, p) in want.items()],
        sorted(simple - tree),
    )


@pytest.mark.parametrize(
    "shape",
    [
        "random",
        # 7,764 vertices in 1,100 components, in no fixed input order:
        # past the range sampler's full-coverage point, where an
        # unmaterialized range split gave two branches different
        # bounds (duplicate tin, multiplied rows)
        "many_components",
    ],
)
def test_deep_substrate_matches_python_dfs(spark, tmp_path, shape):
    """The unrooted deep path produces a DIFFERENT (but valid) DFS
    order; checked against a replica running the same plain sorted
    cyclic order on the same Borůvka forest."""
    from crgp_spark.operators.msf import minimum_spanning_forest

    cfg = _cfg(tmp_path)
    if shape == "random":
        df = spark.createDataFrame(
            _random_pairs(11, 60, 80), "src: long, dst: long"
        )
    else:
        df = spark.createDataFrame(
            _many_component_pairs(5, 1_100), "src: long, dst: long"
        ).repartition(8)
    und = _canonical(df).localCheckpoint(eager=True)
    sub = euler._deep_substrate(spark, und, cfg)
    # replica: same forest (lexicographic-minimum spanning forest),
    # rooted at component minima, children sorted ascending — for the
    # plain cyclic successor order with the cut at the root's wrap,
    # the induced DFS visits each vertex's tree neighbors in ascending
    # order starting after the parent (root: plain ascending)
    fe = [
        tuple(r)
        for r in minimum_spanning_forest(
            spark,
            und.select(
                F.col("u").alias("src"), F.col("v").alias("dst"),
                F.lit(0).alias("w"),
            ),
            cfg,
        ).select("u", "v").collect()
    ]
    nt = sorted(
        set(tuple(r) for r in und.collect()) - set(fe)
    )
    adj = collections.defaultdict(list)
    for u, v in fe:
        adj[u].append(v)
        adj[v].append(u)
    for x in adj:
        adj[x].sort()
    verts = sorted(adj)
    seen = set()
    tin, tout, size = {}, {}, {}
    for root in verts:
        if root in seen:
            continue
        ctr = [0]

        def dfs(v, parent):
            seen.add(v)
            tin[v] = ctr[0]
            ctr[0] += 1
            nbrs = adj[v]
            if parent is None:
                order = nbrs
            else:
                i = nbrs.index(parent)
                order = nbrs[i + 1:] + nbrs[:i]
            for c in order:
                if c not in seen:
                    dfs(c, v)
            tout[v] = ctr[0] - 1
            size[v] = tout[v] - tin[v] + 1

        sys.setrecursionlimit(100_000)
        dfs(root, None)
    adjnt = collections.defaultdict(list)
    for u, v in nt:
        adjnt[u].append(v)
        adjnt[v].append(u)
    low, high = {}, {}

    def agg(v, parent):
        lo = min([tin[v]] + [tin[x] for x in adjnt[v]])
        hi = max([tin[v]] + [tin[x] for x in adjnt[v]])
        for c in adj[v]:
            if c != parent and tin[c] > tin[v] and tin[c] <= tout[v]:
                cl, ch = agg(c, v)
                lo, hi = min(lo, cl), max(hi, ch)
        low[v], high[v] = lo, hi
        return lo, hi

    roots = [v for v in verts if tin[v] == 0]
    for root in roots:
        agg(root, None)
    rows = sub.collect()
    got = {r["vid"]: r for r in rows}
    assert len(rows) == len(verts)
    assert set(got) == set(verts)
    # tin is dense per component: 0 .. size(root) - 1
    tins = collections.defaultdict(list)
    for r in rows:
        tins[r["comp"]].append(r["tin"])
    for c, ts in tins.items():
        assert sorted(ts) == list(range(len(ts))), f"comp {c}"
    for v in verts:
        r = got[v]
        assert (r["tin"], r["tout"], r["size"], r["low"], r["high"]) == (
            tin[v], tout[v], size[v], low[v], high[v]
        ), f"vid {v}"


def test_empty_and_single_edge(spark, tmp_path):
    cfg = _cfg(tmp_path)
    df = spark.createDataFrame([(1, 2)], "src: long, dst: long")
    got = sorted(map(tuple, bridges(spark, df, cfg).collect()))
    assert got == [(1, 2)]
    empty = spark.createDataFrame([], "src: long, dst: long")
    assert bridges(spark, empty, cfg).collect() == []
