"""Spark side of one benchmark run, started by ``run.py`` as a child.

It builds the session the way a user does (``crgp_spark.session.get_spark``
on ``local[4]`` with 4 shuffle partitions), registers the case's inputs
and prints ``READY``; the parent times set-up up to that line, and kills
the process group, JVM included, once the child is done. Unless
``--setup-only`` is given it then repeats passes of the workload's layer
calls until the measuring window is spent, checks each call's output
against the cached reference, and writes ``result.json`` to the run
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import reference  # noqa: E402
import workloads  # noqa: E402
from layerstats import RssSampler, StageReader, session_cpu_s  # noqa: E402

CPUS = 4


def start_session(run_dir: str, case_dir: str):
    from crgp_spark.session import get_spark

    spark = get_spark(
        "perfbench", cpus=CPUS, shuffle_partitions=CPUS, driver_memory="2g",
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
            # keep every job of a long pass readable by the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    tables = {}
    for name in ("events", "edges"):
        path = os.path.join(case_dir, f"{name}.parquet")
        if os.path.exists(path):
            tables[name] = spark.read.parquet(path)
            tables[name].createOrReplaceTempView(name)
    return spark, tables


def _du_mb(path: str, skip: str) -> float:
    total = 0
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if os.path.join(d, x) != skip]
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


class Pass:
    """One pass: the workload's layer calls in order, each timed, counted
    by the ``StageReader`` once its timers have stopped, and checked."""

    def __init__(self, index, spark, tables, case_dir, run_dir, reader):
        self.index, self.spark, self.tables = index, spark, tables
        self.reader = reader
        self.case_dir = case_dir
        with open(os.path.join(case_dir, "reference.json")) as f:
            self.ref = json.load(f)
        self.ckpt = os.path.join(run_dir, f"pass{index}")
        self.calls: list[dict] = []

    def call(self, layer: str, fn, check):
        """Time ``fn()`` in wall and CPU seconds; then ``check(out)``
        returns the layer's own metrics, or ``None`` when the output is
        wrong."""
        sc = self.spark.sparkContext
        group = f"{layer}#{self.index}"
        sc.setJobGroup(group, layer)
        c0, t0 = session_cpu_s(), time.time()
        out = None
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
        t1, c1 = time.time(), session_cpu_s()
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec = {"layer": layer, "s": t1 - t0, "cpu_s": c1 - c0, "ok": False}
        if out is not None:
            try:
                extra = check(out)
            except Exception:
                traceback.print_exc()
                extra = None
            if extra is None:
                print(f"perfbench: {layer} output differs from the reference",
                      file=sys.stderr)
            else:
                rec.update(extra, ok=True)
        rec.update(self.reader.group_metrics(group, t0 * 1e3, t1 * 1e3))
        self.calls.append(rec)
        return out

    def digest_check(self, layer: str, cols: list[str]):
        return lambda pdf: {} if reference.digest(pdf, cols) == self.ref[layer] else None

    def ranks_check(self, pdf):
        want = np.load(os.path.join(self.case_dir, "ranks.npz"))
        got = pdf.sort_values("vid")
        if not np.array_equal(got["vid"].to_numpy(), want["vids"]):
            return None
        err = np.abs(got["rank"].to_numpy() - want["ranks"]).max() * len(got)
        return {} if err <= 1e-4 else None


def sf01_pass(p: Pass, spark) -> None:
    from crgp_spark.derive import derive_edge_turns
    from crgp_spark.generator import transcripts_from_events
    from crgp_spark.operators.bfs import bfs_hops
    from crgp_spark.operators.bridges import bridges
    from crgp_spark.operators.components import connected_components
    from crgp_spark.operators.pagerank import pagerank_df
    from crgp_spark.operators.scc import strongly_connected_components
    from crgp_spark.operators.transitions import succession_graph

    cfg = _config(p)
    events = p.tables["events"]
    edges_path = os.path.join(p.ckpt, "edges")

    def derive():
        derive_edge_turns(transcripts_from_events(events)).write.parquet(edges_path)
        return spark.read.parquet(edges_path)

    def derive_check(df):
        pdf = df.toPandas()
        if reference.digest(pdf, reference.EDGE_COLS) != p.ref["derive"]:
            return None
        return {"output_rows": len(pdf)}

    et = p.call("derive", derive, derive_check)
    conv = F.substring("conv_id", 2, 20).cast("long") * reference.VID_STRIDE

    # built inside each call, so a failed derive fails the calls after it
    def e():
        return et.select((conv + F.col("src_turn")).alias("src"),
                         (conv + F.col("dst_turn")).alias("dst"))

    def sources():
        return et.select((conv + F.col("orig_turn")).alias("vid")).distinct()

    p.call("pagerank_df", lambda: pagerank_df(spark, e(), cfg).toPandas(), p.ranks_check)
    p.call("components", lambda: connected_components(spark, e(), cfg).toPandas(),
           p.digest_check("components", ["vid", "component"]))
    p.call("bfs", lambda: bfs_hops(spark, e(), sources(), cfg).toPandas(),
           p.digest_check("bfs", ["vid", "dist"]))
    p.call("bridges", lambda: bridges(spark, e(), cfg).toPandas(),
           p.digest_check("bridges", ["u", "v"]))
    p.call("scc", lambda: strongly_connected_components(
        spark, succession_graph(events, min_weight=workloads.SCC_MIN_WEIGHT), cfg,
    ).toPandas(), p.digest_check("scc", ["vid", "scc"]))


def hub_pass(p: Pass, spark) -> None:
    from crgp_spark.operators.cascade import pack_cascade, pagerank_cascade
    from crgp_spark.operators.cascade_algos import cascade_labelprop

    spec = workloads.WORKLOADS["hub_cascades"]
    cfg = _config(p, hub_degree_threshold=spec["hub_degree_threshold"],
                  max_salt=spec["max_salt"])
    edges = p.tables["edges"]
    algo_dir = os.path.join(cfg.checkpoint_dir, "pagerank_cascade")
    pack_path = os.path.join(algo_dir, "graph")

    def pack_check(stats):
        if (stats["n_edges"], stats["n_verts"]) != (p.ref["n_edges"], p.ref["n_verts"]):
            return None
        return {"skew_ratio": stats["skew_ratio"], "replicas": stats["n_replicas"]}

    p.call("pack_cascade", lambda: pack_cascade(edges, cfg, pack_path), pack_check)

    def pagerank_check(pdf):
        if p.ranks_check(pdf) is None:
            return None
        return {"ckpt_write_mb": _du_mb(algo_dir, skip=pack_path)}

    p.call("pagerank_cascade", lambda: pagerank_cascade(
        spark, edges, cfg, reuse_pack=True).state.toPandas(), pagerank_check)
    p.call("labelprop_cascade", lambda: cascade_labelprop(
        spark, edges, cfg, fixed_iterations=spec["labelprop_iterations"],
        pack_path=pack_path, reuse_pack=True,
    ).toPandas(), p.digest_check("labelprop_cascade", ["vid", "label"]))


def _config(p: Pass, **kw):
    from crgp_spark.config import EngineConfig

    return EngineConfig(
        shuffle_partitions=CPUS, graph_partitions=CPUS, checkpoint_dir=p.ckpt,
        checkpoint_every=1, tol_mode="scaled", max_iterations=120, **kw,
    )


PASSES = {"sf01_pipeline": sf01_pass, "hub_cascades": hub_pass}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PASSES))
    ap.add_argument("--case", required=True, help="cached case directory")
    ap.add_argument("--run", required=True, help="scratch directory of this run")
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()

    t_start = time.time()
    spark, tables = start_session(args.run, args.case)
    t_ready = time.time()
    print("READY", flush=True)
    if args.setup_only:
        return

    sc = spark.sparkContext
    reader = StageReader(sc, task_details=bool(args.trace))
    session = reader.group_metrics(None, t_start * 1e3, t_ready * 1e3)
    # the sampler's thread would add to the untraced run's CPU seconds
    sampler = RssSampler(sc._jvm.java.lang.ProcessHandle.current().pid()) if args.trace else None
    passes = []
    end = time.time() + args.seconds
    while not passes or time.time() < end:
        p = Pass(len(passes), spark, tables, args.case, args.run, reader)
        PASSES[args.workload](p, spark)
        passes.append(p.calls)
    result = {"session": session, "passes": passes,
              "peak_rss_mb": sampler.stop() if sampler else None}
    with open(os.path.join(args.run, "result.json"), "w") as f:
        json.dump(result, f)
    # no spark.stop(): run.py kills this process group and waits for it


if __name__ == "__main__":
    main()
