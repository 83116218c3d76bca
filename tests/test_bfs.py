from __future__ import annotations

import pandas as pd
import pytest

from crgp_spark.config import EngineConfig
from crgp_spark.operators.bfs import BFSBudgetExhausted, bfs_hops
from crgp_spark.operators.cascade_algos import cascade_bfs
from tests.oracles import random_edges


def _cfg(tmp_path):
    return EngineConfig(
        graph_partitions=4, shuffle_partitions=8, checkpoint_dir=str(tmp_path)
    )


def bfs_oracle(pdf: pd.DataFrame, sources: set[int]) -> dict[int, int]:
    """Plain-python BFS over the directed edge list."""
    adj: dict[int, list[int]] = {}
    for s, d in zip(pdf["src"], pdf["dst"]):
        adj.setdefault(int(s), []).append(int(d))
    dist = {v: 0 for v in sources}
    frontier = list(sources)
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    nxt.append(v)
        frontier = nxt
    return dist


@pytest.mark.parametrize(
    "seed,n,m,pl", [(1, 120, 200, False), (2, 400, 900, True)]
)
def test_matches_python_bfs(spark, tmp_path, seed, n, m, pl):
    pdf = random_edges(n, m, seed=seed, power_law=pl)
    srcs = {int(pdf["src"].iloc[0]), int(pdf["src"].iloc[-1])}
    edges = spark.createDataFrame(pdf)
    sources = spark.createDataFrame(
        pd.DataFrame({"vid": sorted(srcs)})
    )
    got = {
        r.vid: r.dist
        for r in bfs_hops(
            spark, edges, sources, _cfg(tmp_path / str(seed))
        ).collect()
    }
    assert got == bfs_oracle(pdf, srcs)


def test_chain_and_unreachable(spark, tmp_path):
    """A directed path: dist = position; vertices before the source are
    unreachable and absent from the output."""
    pdf = pd.DataFrame({"src": list(range(0, 50)), "dst": list(range(1, 51))})
    edges = spark.createDataFrame(pdf)
    sources = spark.createDataFrame(pd.DataFrame({"vid": [10]}))
    got = {
        r.vid: r.dist
        for r in bfs_hops(spark, edges, sources, _cfg(tmp_path)).collect()
    }
    assert got == {v: v - 10 for v in range(10, 51)}


def test_chain_longer_than_cap_raises(spark, tmp_path):
    """A 6-hop chain under a 3-superstep cap: the frontier is still
    non-empty at the cap, so BFS raises instead of returning the first
    three levels as if they were everything."""
    pdf = pd.DataFrame({"src": list(range(0, 6)), "dst": list(range(1, 7))})
    edges = spark.createDataFrame(pdf)
    sources = spark.createDataFrame(pd.DataFrame({"vid": [0]}))
    with pytest.raises(BFSBudgetExhausted):
        bfs_hops(spark, edges, sources, _cfg(tmp_path), max_iterations=3)
    # eccentricity 6 needs 7 supersteps: the last one finds the
    # frontier empty
    got = bfs_hops(spark, edges, sources, _cfg(tmp_path), max_iterations=7)
    assert {r.vid: r.dist for r in got.collect()} == {v: v for v in range(7)}


def test_cascade_bfs_matches_generic(spark, tmp_path):
    """Conversation-disjoint union of graphs: cascade kernel == generic
    superstep BFS on every vertex."""
    frames = []
    srcs = []
    for c in range(6):
        pdf = random_edges(60, 90, seed=c + 10)
        base = c * 10_000
        frames.append(
            pd.DataFrame(
                {
                    "src": pdf["src"] + base,
                    "dst": pdf["dst"] + base,
                    "conv_id": f"c{c}",
                }
            )
        )
        srcs.append({"conv_id": f"c{c}", "vid": int(pdf["src"].iloc[0]) + base})
    all_edges = pd.concat(frames, ignore_index=True)
    edges = spark.createDataFrame(all_edges)
    sources = spark.createDataFrame(pd.DataFrame(srcs))
    casc = {
        r.vid: r.dist
        for r in cascade_bfs(
            spark, edges, sources, _cfg(tmp_path / "casc")
        ).collect()
    }
    generic = {
        r.vid: r.dist
        for r in bfs_hops(
            spark,
            edges.select("src", "dst"),
            sources.select("vid"),
            _cfg(tmp_path / "gen"),
        ).collect()
    }
    assert casc == generic


def test_cascade_bfs_source_only_conversation(spark, tmp_path):
    """A conversation whose originator never influenced anyone still
    reports the source at dist 0."""
    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1], "dst": [2], "conv_id": ["a"]})
    )
    sources = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a", "b"], "vid": [1, 99]})
    )
    got = {
        r.vid: r.dist
        for r in cascade_bfs(spark, edges, sources, _cfg(tmp_path)).collect()
    }
    assert got == {1: 0, 2: 1, 99: 0}
