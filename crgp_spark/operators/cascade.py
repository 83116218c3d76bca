"""Cascade-local PageRank: CSR blocks partitioned by conversation.

The influence-edge derivation guarantees a structural invariant the
generic salted-src layout (operators/pack.py) cannot exploit: **edges
never cross conversations** (every edge's src and dst are turns of one
``conv_id`` — derive.py). Hash-partitioning vertex ids scatters each
conversation across all partitions, so per-partition combining buys
nothing and every superstep ships ~|E| messages (measured: 9.67 M
messages for 9.87 M edges). Partitioning by conversation instead makes
the gather, the per-destination combine AND the state update all
partition-local:

- block = all edges of the conversations assigned to the partition,
  CSR by src, plus the partition's full vertex set and global
  out-degrees;
- state ``(part, vid, rank)`` lives in the partition of its ``part``;
- a superstep is ONE ``groupBy("part").applyInPandas`` exchange whose
  kernel gathers, combines per destination AND applies the rank update,
  feeding one observed checkpoint (``plans/superstep.observed_
  checkpoint``). The only cross-partition scalar is the dangling mass —
  the analog of the reference's epoch barrier. It is observed on the
  checkpoint job as ``sum(rank where out_deg = 0)`` and applied one
  superstep later: the kernel that reads ranks ``r`` adds the dangling
  mass of ``r``, observed when ``r`` was checkpointed (at init, on the
  init checkpoint; on resume, on the checkpoint that rebuilds the
  replicas). Same formula, no driver round-trip inside the superstep.

Hub skew (north rule R1): a conversation whose edge count exceeds
``hub_degree_threshold`` is split into up to ``max_salt`` salted
sub-blocks by ``hash(dst)`` — a destination's in-edges stay in one
sub-block, so per-dst sums remain complete; only the RANKS of sources
whose out-edges land in a foreign sub-block are replicated there. The
kernel ships them itself: besides its resident rows it emits, for each
resident source with out-edges in a foreign sub-block, a replica row
``(foreign part, vid, new rank)`` (the per-block list is the
``home`` slice of the placement table, cached per worker like the
block). The next superstep's exchange on ``part`` delivers them, so no
superstep joins state with the placement. Replica rows never reach a
committed checkpoint: they carry ``_changed = false`` and are filtered
out of the state the loop commits, so a checkpoint holds one row per
vertex and resume rebuilds the replicas once, with one placement join.

Checkpoints/lineage/resume ride the same ``run_loop`` harness as the
generic path; results match ``pagerank_df`` (same formula, same
dangling redistribution) — measured max per-vertex difference 6.6e-20
over 4.77 M vertices at 9.87 M edges, rank mass exactly 1.0.

Assumption (holds for every derivation output by construction): vertex
ids are unique to their conversation — ``vid = xxhash64(conv_id,
turn_idx)`` / ``uid*100000+turn`` never reuses an id across
conversations. Arbitrary edge tables violating this must use the
generic layout (operators/pack.py).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crgp_spark.config import EngineConfig
from crgp_spark.operators.pack import PACK_FORMAT_VERSION, _BLOCK_CACHE, _cache_put
from crgp_spark.plans.superstep import (
    LoopResult,
    StepOutcome,
    observed_checkpoint,
    reset_stats,
    run_loop,
)

#: kernel output: the new state rows (``_rep`` marks a replica shipped
#: to a foreign sub-block) plus the per-row inputs of the observed
#: superstep scalars; replica rows carry zero delta, zero in-contribution,
#: ``_changed = false`` and ``_dangling = false``.
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("part", T.IntegerType(), False),
        T.StructField("vid", T.LongType(), False),
        T.StructField("rank", T.DoubleType(), False),
        T.StructField("_rep", T.BooleanType(), False),
        T.StructField("_changed", T.BooleanType(), False),
        T.StructField("_delta", T.DoubleType(), False),
        T.StructField("c", T.DoubleType(), False),
        T.StructField("_dangling", T.BooleanType(), False),
    ]
)

#: the loop state a superstep reads: resident rows and replica rows
_STATE_COLUMNS = ["part", "vid", "rank", "_rep"]


def placement_path(pack_path: str) -> str:
    """Replica-placement table location: a SIBLING of the blocks dir, so
    ``spark.read.parquet(pack_path)`` never co-lists it (the nested
    layout caused an 'All paths were ignored' warn per read)."""
    return pack_path.rstrip("/") + "_placement"


def pack_cascade(edges: DataFrame, cfg: EngineConfig, path: str) -> dict:
    """Pack a conversation-keyed edge table ``(src, dst, conv_id)`` into
    cascade-local CSR blocks at ``path``. Returns pack statistics."""
    spark = edges.sparkSession
    e = edges.select("src", "dst", "conv_id")

    conv_sizes = e.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_e"))
    n_salt = F.when(
        F.col("n_e") <= cfg.hub_degree_threshold, F.lit(1)
    ).otherwise(
        F.least(
            F.lit(cfg.max_salt),
            F.ceil(F.col("n_e") / F.lit(cfg.hub_degree_threshold)).cast("int"),
        )
    )
    sized = e.join(conv_sizes.select("conv_id", n_salt.alias("n_salt")), "conv_id")
    P = cfg.graph_partitions
    ann = sized.select(
        "src",
        "dst",
        "conv_id",
        "n_salt",
        F.pmod(F.xxhash64("dst"), F.col("n_salt")).cast("int").alias("salt"),
    ).withColumn(
        "part", F.pmod(F.xxhash64("conv_id", "salt"), F.lit(P)).cast("int")
    )

    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))

    # vertex home: the sub-block that owns the vertex's in-edges
    verts = (
        e.select(F.col("src").alias("vid"), "conv_id")
        .unionByName(e.select(F.col("dst").alias("vid"), "conv_id"))
        .distinct()
        .join(conv_sizes.select("conv_id", n_salt.alias("n_salt")), "conv_id")
        .select(
            "vid",
            "conv_id",
            F.pmod(F.xxhash64("vid"), F.col("n_salt")).cast("int").alias("salt"),
        )
        .withColumn(
            "part", F.pmod(F.xxhash64("conv_id", "salt"), F.lit(P)).cast("int")
        )
        .join(deg.withColumnRenamed("src", "vid"), "vid", "left")
        .select("part", "vid", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
    )

    # block build: per part, vertex table + CSR of resident edges
    edges_part = ann.select("part", "src", "dst").join(
        deg, "src"
    ).select("part", "src", "dst", "out_deg")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(pdf["part"].iloc[0])
        is_v = pdf["kind"].to_numpy() == 1
        vv = pdf[is_v]
        ee = pdf[~is_v]
        vids = vv["a"].to_numpy()
        vdeg = vv["d"].to_numpy()
        vorder = np.argsort(vids, kind="stable")
        vids, vdeg = vids[vorder], vdeg[vorder]
        order = np.lexsort((ee["b"].to_numpy(), ee["a"].to_numpy()))
        src = ee["a"].to_numpy()[order]
        dst = ee["b"].to_numpy()[order]
        edeg = ee["d"].to_numpy()[order]
        src_ids, first_idx, counts = np.unique(
            src, return_index=True, return_counts=True
        )
        indptr = np.zeros(len(src_ids) + 1, dtype=np.int64)
        np.cumsum(counts, out=indptr[1:])
        return pd.DataFrame(
            {
                "part": [part],
                "n_v": [len(vids)],
                "n_edges": [len(dst)],
                "vids": [vids],
                "vdeg": [vdeg.astype(np.int64)],
                "src_ids": [src_ids],
                # global out-degree of each block source (edge rows carry
                # it), valid for resident AND foreign (replica) sources
                "src_deg": [edeg[first_idx].astype(np.int64)],
                "indptr": [indptr],
                "dst": [dst],
            }
        )

    unioned = (
        verts.select(
            "part", F.col("vid").alias("a"), F.lit(0).cast("long").alias("b"),
            F.lit(1).alias("kind"), F.col("out_deg").cast("long").alias("d"),
        )
        .unionByName(
            edges_part.select(
                "part", F.col("src").alias("a"), F.col("dst").alias("b"),
                F.lit(0).alias("kind"), F.col("out_deg").cast("long").alias("d"),
            )
        )
    )
    blocks = unioned.groupBy("part").applyInPandas(
        build,
        schema="part int, n_v long, n_edges long, vids array<long>, "
        "vdeg array<long>, src_ids array<long>, src_deg array<long>, "
        "indptr array<long>, dst array<long>",
    )
    # pack statistics ride on the two writes (no re-read of the output)
    block_obs, placement_obs = Observation(), Observation()
    blocks.observe(
        block_obs,
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("n_edges").alias("n_edges"),
        F.max("n_edges").alias("max_edges"),
        F.avg("n_edges").alias("mean_edges"),
        F.sum("n_v").alias("n_verts"),
        F.map_from_entries(F.collect_list(F.struct("part", "n_edges"))).alias(
            "part_edges"
        ),
    ).write.mode("overwrite").partitionBy("part").parquet(path)

    # replica placement: sources whose out-edges sit in a foreign block,
    # with the home block that ships their rank there
    homes = verts.select(F.col("vid").alias("src"), F.col("part").alias("home"))
    placement = (
        ann.select("src", "part")
        .distinct()
        .join(homes, "src")
        .filter(F.col("part") != F.col("home"))
        .select(F.col("src").alias("vid"), "part", "home")
    )
    placement.observe(
        placement_obs, F.count(F.lit(1)).alias("n_replicas")
    ).write.mode("overwrite").parquet(placement_path(path))

    r = block_obs.get
    import uuid

    stats = {
        # cache-invalidation fingerprint, see pack.py::load_block
        "pack_id": uuid.uuid4().hex,
        "format_version": PACK_FORMAT_VERSION,
        "n_parts": int(r["n_parts"]),
        "n_edges": int(r["n_edges"]),
        "max_edges": int(r["max_edges"]),
        "mean_edges": float(r["mean_edges"]),
        "skew_ratio": float(r["max_edges"]) / max(float(r["mean_edges"]), 1.0),
        "n_verts": int(r["n_verts"]),
        "n_replicas": int(placement_obs.get["n_replicas"]),
        "graph_partitions": P,
        # per-block edge counts (JSON keys are strings): lineage rows
        "part_edges": {str(k): int(v) for k, v in r["part_edges"].items()},
    }
    with open(os.path.join(path, "_pack_stats.json"), "w") as f:
        json.dump(stats, f)
    return stats


def _load_cascade_block(
    path: str, part: int, pack_id: str | None, has_replicas: bool
):
    """One block's CSR arrays plus its replica list (``rep_vid`` resident
    here, ``rep_part`` the foreign sub-block that needs its rank),
    cached per worker process under the pack's fingerprint."""
    key = (path, part, "cascade", pack_id)
    blk = _BLOCK_CACHE.get(key)
    if blk is None:
        import pyarrow.dataset as ds

        tbl = ds.dataset(
            os.path.join(path, f"part={part}"), format="parquet"
        ).to_table()
        blk = {
            name: tbl[name][0].values.to_numpy(zero_copy_only=False)
            for name in ("vids", "vdeg", "src_ids", "src_deg", "indptr", "dst")
        }
        blk["rep_vid"] = np.empty(0, dtype=np.int64)
        blk["rep_part"] = np.empty(0, dtype=np.int32)
        if has_replicas:
            reps = ds.dataset(placement_path(path), format="parquet").to_table(
                columns=["vid", "part"], filter=ds.field("home") == part
            )
            blk["rep_vid"] = reps["vid"].to_numpy()
            blk["rep_part"] = reps["part"].to_numpy().astype(np.int32)
        _cache_put(key, blk)
    return blk


def _make_kernel(
    pack_path: str,
    pack_id: str | None,
    has_replicas: bool,
    alpha: float,
    n: int,
    dangling_mass: float,
):
    """The superstep kernel for one sub-block: gather the in-block
    contributions of every source rank it receives (resident or
    replica), apply ``(1-α)/n + α·(c + dangling_mass/n)`` and emit the
    resident rows plus the replicas of their new ranks."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(pdf["part"].iloc[0])
        blk = _load_cascade_block(pack_path, part, pack_id, has_replicas)
        vids, vdeg = blk["vids"], blk["vdeg"]
        src_ids, indptr, dst = blk["src_ids"], blk["indptr"], blk["dst"]

        rows_v = pdf["vid"].to_numpy()
        rows_r = pdf["rank"].to_numpy()
        order = np.argsort(rows_v, kind="stable")
        rows_v, rows_r = rows_v[order], rows_r[order]

        # resident ranks aligned to the block's sorted vertex table
        pos = np.searchsorted(rows_v, vids)
        rank = rows_r[np.minimum(pos, len(rows_v) - 1)]
        rank[rows_v[np.minimum(pos, len(rows_v) - 1)] != vids] = 0.0

        # gather: per-source weight; src_deg stored at pack time covers
        # resident AND replica sources
        spos = np.searchsorted(rows_v, src_ids)
        srank = rows_r[np.minimum(spos, len(rows_v) - 1)]
        svalid = rows_v[np.minimum(spos, len(rows_v) - 1)] == src_ids
        w = np.where(svalid, srank, 0.0) / np.maximum(blk["src_deg"], 1)

        contrib = np.repeat(w, np.diff(indptr))
        uniq, inv = np.unique(dst, return_inverse=True)
        sums = np.bincount(inv, weights=contrib, minlength=len(uniq))

        # scatter back onto the vertex table (complete per dst)
        c = np.zeros(len(vids), dtype=np.float64)
        c[np.searchsorted(vids, uniq)] = sums
        new = (1.0 - alpha) / n + alpha * (c + dangling_mass / n)

        # replicas: new ranks of resident sources, addressed to the
        # foreign sub-blocks holding their other out-edges
        rep_vid = blk["rep_vid"]
        k = len(rep_vid)
        no, yes = np.zeros(k, dtype=bool), np.ones(k, dtype=bool)
        return pd.DataFrame(
            {
                "part": np.concatenate(
                    [np.full(len(vids), part, dtype=np.int32), blk["rep_part"]]
                ),
                "vid": np.concatenate([vids, rep_vid]),
                "rank": np.concatenate([new, new[np.searchsorted(vids, rep_vid)]]),
                "_rep": np.concatenate([np.zeros(len(vids), dtype=bool), yes]),
                "_changed": np.concatenate([new != rank, no]),
                "_delta": np.concatenate([np.abs(new - rank), np.zeros(k)]),
                "c": np.concatenate([c, np.zeros(k)]),
                "_dangling": np.concatenate([vdeg == 0, no]),
            }
        )

    return kernel


def pagerank_cascade(
    spark: SparkSession,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
    resume: bool = False,
    algo_name: str = "pagerank_cascade",
    reuse_pack: bool = False,
) -> LoopResult:
    """Cascade-local CSR PageRank over a conversation-keyed edge table
    ``(src, dst, conv_id)``. Same formula/semantics as ``pagerank`` /
    ``pagerank_df``; state ``(vid, rank)``."""
    cfg = cfg or EngineConfig()
    pack_path = os.path.join(cfg.checkpoint_dir, algo_name, "graph")
    stats_file = os.path.join(pack_path, "_pack_stats.json")
    pstats = None
    if (resume or reuse_pack) and os.path.exists(stats_file):
        with open(stats_file) as f:
            pstats = json.load(f)
        # A pack written by an older layout must not be reused: v1
        # nested the placement dir (replicas silently lost), v2 lacks
        # the placement's home column and the per-block edge counts.
        if pstats.get("format_version") != PACK_FORMAT_VERSION:
            pstats = None
    if pstats is None:
        pstats = pack_cascade(edges, cfg, pack_path)

    n = pstats["n_verts"]
    mean_edges = max(pstats["mean_edges"], 1.0)
    # lineage rows come from the pack's per-block edge counts
    parts = sorted(int(p) for p in pstats["part_edges"])
    scanned = np.array(
        [pstats["part_edges"][str(p)] for p in parts], dtype=np.int64
    )
    has_replicas = pstats["n_replicas"] > 0
    alpha, tol = cfg.damping, cfg.tol
    if cfg.tol_mode == "scaled":
        tol = tol / n

    # resident vertex rows with their dangling flag, from the blocks
    homes = (
        spark.read.parquet(pack_path)
        .select("part", F.explode(F.arrays_zip("vids", "vdeg")).alias("z"))
        .select(
            "part",
            F.col("z.vids").alias("vid"),
            (F.col("z.vdeg") == 0).alias("_dangling"),
        )
    )
    dangling_mass = F.sum(F.when(F.col("_dangling"), F.col("rank")))
    # the state a superstep reads (resident + replica rows) and the
    # dangling mass of its ranks, observed when it was checkpointed
    carry: dict = {}

    def seed(ranks: DataFrame | None) -> DataFrame:
        """Checkpoint the loop state with its replica rows: all ranks
        1/n at init, else the (one-row-per-vertex) ``ranks`` a resume
        loaded, shipped to the replicas with one placement join."""
        home, reps = homes, None
        if ranks is None:
            home = home.withColumn("rank", F.lit(1.0 / n))
        else:
            home = home.join(ranks.select("vid", "rank"), "vid")
        if has_replicas:
            reps = spark.read.parquet(placement_path(pack_path)).select(
                "part", "vid"
            )
            reps = (
                reps.withColumn("rank", F.lit(1.0 / n))
                if ranks is None
                else reps.join(ranks.select("vid", "rank"), "vid")
            )
        full = home.withColumn("_rep", F.lit(False))
        if reps is not None:
            full = full.unionByName(
                reps.withColumn("_rep", F.lit(True)).withColumn(
                    "_dangling", F.lit(False)
                )
            )
        ck, m = observed_checkpoint(
            full,
            f"{algo_name} seed",
            columns=_STATE_COLUMNS,
            dangling_mass=dangling_mass,
        )
        return _carry(ck, m["dangling_mass"])

    def _carry(ck: DataFrame, mass: float | None) -> DataFrame:
        # replica rows sit in the partition of the task that emitted
        # them, not of their ``part``: drop the checkpoint's inherited
        # partitioning claim so the next ``groupBy("part")`` always
        # re-exchanges (a kept claim would deliver no replica)
        ck = reset_stats(ck)
        resident = ck.filter(~F.col("_rep")).drop("_rep")
        carry.update(
            state=ck, resident=resident, dangling=float(mass or 0.0)
        )
        return resident

    def step(state: DataFrame, it: int) -> StepOutcome:
        if state is not carry.get("resident"):
            seed(state)  # a resumed state: rebuild its replicas once
        dangling = carry["dangling"]
        kernel = _make_kernel(
            pack_path, pstats.get("pack_id"), has_replicas, alpha, n, dangling
        )
        out = carry["state"].groupBy("part").applyInPandas(kernel, _OUT_SCHEMA)
        ck, m = observed_checkpoint(
            out,
            f"{algo_name} superstep it={it}",
            columns=_STATE_COLUMNS + ["_changed"],
            max_delta=F.max("_delta"),
            frontier=F.sum((F.col("_delta") > tol).cast("long")),
            dangling_mass=dangling_mass,
            total_contrib=F.sum("c"),
        )
        new_state = _carry(ck, m["dangling_mass"])
        max_delta = float(m["max_delta"] or 0.0)
        frontier = int(m["frontier"] or 0)

        lineage = pd.DataFrame(
            {
                "algo": algo_name,
                "iteration": it,
                "partition_id": parts,
                "edges_scanned": scanned,
                "messages_sent": scanned,
                "frontier_size": frontier,
                "skew_ratio": scanned / mean_edges,
            }
        )
        metrics = {
            "max_delta": max_delta,
            "frontier": frontier,
            "dangling_mass": dangling,
            "total_contrib": float(m["total_contrib"] or 0.0),
            "converged": max_delta < tol,
        }
        return StepOutcome(new_state, lineage, metrics)

    result = run_loop(
        spark, algo_name, cfg, lambda: seed(None), step, resume=resume
    )
    # canonical (vid, rank) shape
    return LoopResult(
        result.state.select("vid", "rank"), result.history, result.iterations,
        result.converged, result.resumed_from,
    )
