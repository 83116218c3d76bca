"""Cascade-local PageRank (operators/cascade.py): equality with the
generic paths, hub-conversation salting, resume."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.derive import derive_edges
from crgp_spark.generator import synthetic_transcripts
from crgp_spark.operators.cascade import pack_cascade, pagerank_cascade
from crgp_spark.operators.pagerank import pagerank_df


@pytest.fixture(scope="module")
def conv_edges(spark):
    t = synthetic_transcripts(spark, n_convs=60, seed=21, max_turns=64)
    return derive_edges(t).select("src", "dst", "conv_id").persist()


def _cfg(tmp_path, **kw):
    return EngineConfig(
        shuffle_partitions=8,
        graph_partitions=8,
        checkpoint_dir=str(tmp_path),
        checkpoint_every=2,
        **kw,
    )


def test_cascade_matches_df_path(spark, conv_edges, tmp_path):
    cfg = _cfg(tmp_path)
    res = pagerank_cascade(spark, conv_edges, cfg)
    assert res.converged
    ranks_c = {r["vid"]: r["rank"] for r in res.state.collect()}
    ranks_df = {
        r["vid"]: r["rank"]
        for r in pagerank_df(
            spark, conv_edges.select("src", "dst"), cfg,
            fixed_iterations=res.iterations,
        ).collect()
    }
    assert set(ranks_c) == set(ranks_df)
    assert all(abs(ranks_c[v] - ranks_df[v]) < 1e-9 for v in ranks_c)
    assert abs(sum(ranks_c.values()) - 1.0) < 1e-9


def test_cascade_with_forced_splits_matches(spark, conv_edges, tmp_path):
    """hub_degree_threshold below the largest conversation forces salted
    sub-blocks + replica shipping; results must be identical."""
    cfg = _cfg(tmp_path, hub_degree_threshold=50, max_salt=4)
    stats = pack_cascade(conv_edges, cfg, str(tmp_path / "pk"))
    assert stats["n_replicas"] > 0  # splits actually happened
    res = pagerank_cascade(spark, conv_edges, cfg, algo_name="pr_split")
    ranks_s = {r["vid"]: r["rank"] for r in res.state.collect()}

    cfg2 = _cfg(tmp_path, hub_degree_threshold=10_000)
    res2 = pagerank_cascade(spark, conv_edges, cfg2, algo_name="pr_nosplit")
    ranks_n = {r["vid"]: r["rank"] for r in res2.state.collect()}
    assert set(ranks_s) == set(ranks_n)
    assert all(abs(ranks_s[v] - ranks_n[v]) < 1e-12 for v in ranks_s)


def test_cascade_resume(spark, conv_edges, tmp_path):
    cfg = _cfg(tmp_path, max_iterations=3)
    res1 = pagerank_cascade(spark, conv_edges, cfg, algo_name="pr_res")
    assert not res1.converged
    cfg2 = _cfg(tmp_path, max_iterations=100)
    res2 = pagerank_cascade(
        spark, conv_edges, cfg2, algo_name="pr_res", resume=True
    )
    assert res2.converged and res2.resumed_from is not None

    straight = pagerank_cascade(
        spark, conv_edges, _cfg(tmp_path / "s"), algo_name="pr_straight"
    )
    a = {r["vid"]: r["rank"] for r in res2.state.collect()}
    b = {r["vid"]: r["rank"] for r in straight.state.collect()}
    assert set(a) == set(b)
    assert all(abs(a[v] - b[v]) < 1e-12 for v in a)


def test_cascade_resume_with_forced_splits(spark, conv_edges, tmp_path):
    """Replica rows live only in the loop state: a checkpoint holds one
    row per vertex, and a resume rebuilds the replicas from it and ends
    where a straight run ends."""
    from crgp_spark.plans.checkpoint import CheckpointManager

    split = dict(hub_degree_threshold=50, max_salt=4)
    cfg = _cfg(tmp_path, max_iterations=3, **split)
    res1 = pagerank_cascade(spark, conv_edges, cfg, algo_name="pr_split_res")
    assert not res1.converged and res1.iterations == 3
    cm = CheckpointManager(cfg.checkpoint_dir, "pr_split_res")
    stats_file = tmp_path / "pr_split_res" / "graph" / "_pack_stats.json"
    assert json.loads(stats_file.read_text())["n_replicas"] > 0
    assert [c.kind for c in cm.checkpoints()] == ["full", "delta"]
    for c in cm.checkpoints():  # as written, before any fold by vid
        written = spark.read.parquet(os.path.join(c.path, "state"))
        assert written.count() == written.select("vid").distinct().count()
    n_verts = (
        conv_edges.select("src").union(conv_edges.select("dst")).distinct().count()
    )
    assert cm.load_state(spark, cm.checkpoints()[0]).count() == n_verts

    cfg2 = _cfg(tmp_path, max_iterations=100, **split)
    res2 = pagerank_cascade(
        spark, conv_edges, cfg2, algo_name="pr_split_res", resume=True
    )
    # commits at iterations 0 (full) and 2 (delta): resume folds both
    assert res2.converged and res2.resumed_from == 2

    straight = pagerank_cascade(
        spark, conv_edges, _cfg(tmp_path / "s", **split), algo_name="pr_straight"
    )
    assert res2.iterations == straight.iterations
    rows = res2.state.collect()
    assert len(rows) == n_verts
    a = {r["vid"]: r["rank"] for r in rows}
    b = {r["vid"]: r["rank"] for r in straight.state.collect()}
    assert set(a) == set(b)
    assert all(abs(a[v] - b[v]) < 1e-12 for v in a)


def test_cascade_lineage_written(spark, conv_edges, tmp_path):
    from crgp_spark.plans.checkpoint import CheckpointManager

    cfg = _cfg(tmp_path)
    pagerank_cascade(spark, conv_edges, cfg, algo_name="pr_lin")
    lin = CheckpointManager(cfg.checkpoint_dir, "pr_lin").lineage(spark)
    assert lin is not None
    rows = lin.collect()
    assert {r["algo"] for r in rows} == {"pr_lin"}
    assert all(r["edges_scanned"] >= 0 for r in rows)


def test_old_format_pack_is_repacked_on_reuse(spark, conv_edges, tmp_path):
    """ADVICE r2: a pack whose _pack_stats.json lacks the current
    format_version (v1 layout nested the placement table inside the
    blocks dir) must be repacked on resume/reuse, not trusted."""
    import json
    import os

    from crgp_spark.config import EngineConfig
    from crgp_spark.operators.cascade import pagerank_cascade
    from crgp_spark.operators.cascade_algos import _ensure_pack

    cfg = EngineConfig(
        shuffle_partitions=4,
        graph_partitions=4,
        checkpoint_dir=str(tmp_path),
        checkpoint_every=10_000,
        max_iterations=2,
        tol=-1.0,
    )
    res = pagerank_cascade(spark, conv_edges, cfg, algo_name="vcheck")
    pack_path = os.path.join(str(tmp_path), "vcheck", "graph")
    stats_file = os.path.join(pack_path, "_pack_stats.json")
    with open(stats_file) as f:
        stats = json.load(f)
    assert stats["format_version"] >= 2
    old_pack_id = stats["pack_id"]

    # forge a v1 pack: strip the version marker
    del stats["format_version"]
    with open(stats_file, "w") as f:
        json.dump(stats, f)

    # reuse_pack=True must REPACK (new pack_id), not trust the v1 stats
    res2 = pagerank_cascade(
        spark, conv_edges, cfg, algo_name="vcheck", reuse_pack=True
    )
    with open(stats_file) as f:
        new_stats = json.load(f)
    assert new_stats.get("format_version", 0) >= 2
    assert new_stats["pack_id"] != old_pack_id

    # same discipline in the cascade-algos ensure-pack helper
    del new_stats["format_version"]
    with open(stats_file, "w") as f:
        json.dump(new_stats, f)
    refreshed = _ensure_pack(conv_edges, cfg, pack_path, reuse_pack=True)
    assert refreshed.get("format_version", 0) >= 2

    # results unaffected
    a = {r.vid: r.rank for r in res.state.collect()}
    b = {r.vid: r.rank for r in res2.state.collect()}
    assert a.keys() == b.keys()
