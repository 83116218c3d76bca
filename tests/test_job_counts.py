"""Per-operator Spark job ceilings.

Job count is the superstep floor of every iterative operator: under AQE
each exchange and each broadcast runs as a job of its own, so a scalar
``count()``/``first()`` after a superstep's ``localCheckpoint`` costs
2–3 extra jobs per superstep. The convergence scalars ride on the
checkpointing job instead (``plans/superstep.observed_checkpoint``).
These ceilings make a regression visible: each operator runs on a
small fixed graph (a conversation graph for ``pagerank_cascade``)
inside a job group of its own, and the group's jobs
are read from the status tracker. A ceiling is the measured count plus
~10% slack: one scalar action put back after a per-superstep checkpoint
exceeds it.
"""

from __future__ import annotations

import dataclasses
import uuid

import pandas as pd
import pytest

from crgp_spark.config import EngineConfig
from crgp_spark.derive import derive_edges
from crgp_spark.generator import synthetic_transcripts
from crgp_spark.operators.bfs import bfs_hops
from crgp_spark.operators.blocks import articulation_points
from crgp_spark.operators.bridges import bridges
from crgp_spark.operators.cascade import pagerank_cascade
from crgp_spark.operators.components import connected_components
from crgp_spark.operators.pagerank import pagerank_df
from crgp_spark.operators.scc import strongly_connected_components
from tests.oracles import random_edges

CEILINGS = {
    "articulation_points": 145,
    "bridges": 62,
    "pagerank_df": 26,
    "bfs_hops": 43,
    "connected_components": 55,
    "pagerank_cascade": 43,
    "strongly_connected_components": 160,
}


@pytest.fixture(scope="module")
def graph(spark):
    pdf = random_edges(150, 300, seed=5)
    edges = spark.createDataFrame(pdf).localCheckpoint(eager=True)
    sources = spark.createDataFrame(
        pd.DataFrame({"vid": [int(pdf["src"].iloc[0]), int(pdf["src"].iloc[1])]})
    ).localCheckpoint(eager=True)
    return edges, sources


@pytest.fixture(scope="module")
def conv_graph(spark):
    """A conversation graph (src, dst, conv_id), as in test_cascade.py."""
    t = synthetic_transcripts(spark, n_convs=60, seed=21, max_turns=64)
    return (
        derive_edges(t).select("src", "dst", "conv_id").localCheckpoint(eager=True)
    )


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


RUNS = {
    "articulation_points": lambda s, e, src, cfg: articulation_points(
        s, e, cfg
    ),
    "bridges": lambda s, e, src, cfg: bridges(s, e, cfg),
    "pagerank_df": lambda s, e, src, cfg: pagerank_df(
        s, e, cfg, fixed_iterations=3
    ),
    "bfs_hops": lambda s, e, src, cfg: bfs_hops(s, e, src, cfg),
    "connected_components": lambda s, e, src, cfg: connected_components(
        s, e, cfg
    ),
    "strongly_connected_components": (
        lambda s, e, src, cfg: strongly_connected_components(s, e, cfg)
    ),
    # on the conversation graph (passed as ``e``), with the largest
    # conversations split into salted sub-blocks, so every superstep
    # ships replicas
    "pagerank_cascade": lambda s, e, src, cfg: pagerank_cascade(
        s, e, dataclasses.replace(cfg, hub_degree_threshold=50, max_salt=4)
    ).state,
}


@pytest.mark.parametrize("op", sorted(CEILINGS))
def test_job_ceiling(spark, tmp_path, graph, conv_graph, op):
    edges, sources = graph
    if op == "pagerank_cascade":
        edges = conv_graph
    cfg = EngineConfig(
        graph_partitions=4, shuffle_partitions=8, checkpoint_dir=str(tmp_path)
    )
    n = _jobs(
        spark, lambda: RUNS[op](spark, edges, sources, cfg).collect()
    )
    assert n <= CEILINGS[op], f"{op}: {n} Spark jobs > ceiling {CEILINGS[op]}"
