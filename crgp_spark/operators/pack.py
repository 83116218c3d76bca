"""Skew-neutral graph packing: per-partition CSR blocks keyed by a salted
hash of ``src`` (north rule; SURVEY.md §7.2 M2).

The reference keeps each worker's adjacency as sorted per-user friend
lists inside the operator (``reconstruct.rs:118-131``), routed by
``hash(user) % workers`` (``reconstruct.rs:49``). At 10^12-turn scale
plain hashing strands hub vertices (cascade openers of giant
conversations) on one partition, so we *salt*: a source with out-degree
above ``hub_degree_threshold`` has its out-adjacency split across up to
``max_salt`` replicas (salt = hash of the destination, so the split is
deterministic and balanced), and downstream kernels merge partial
aggregates — the partition-granularity version of the reference's
degree-adaptive probe choice (``reconstruct.rs:79``).

Blocks are written as one parquet file per partition (a one-row table of
CSR arrays: sorted ``src_ids``, ``indptr``, ``dst``, plus each source's
GLOBAL out-degree). Iterative kernels re-read their block once per
executor process and keep it in process memory across supersteps — the
Spark analog of timely operators holding state across epochs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.functions import part_id, salt_for

BLOCK_SCHEMA = (
    "part int, n_src int, n_edges long, src_ids array<long>, "
    "src_deg array<long>, indptr array<long>, dst array<long>"
)

#: On-disk pack layout version, recorded in ``_pack_stats.json``.
#: v2 = replica placement in the SIBLING ``<pack>_placement`` dir
#: (cascade layout; v1 nested it inside the blocks dir). v3 adds the
#: placement's ``home`` column (the block whose kernel ships each
#: replica) and the per-block edge counts ``part_edges`` to the stats.
#: Readers that reuse an existing pack MUST repack when the recorded
#: version (absent = v1) differs — reading an older pack through newer
#: paths silently loses replicas (ADVICE r2).
PACK_FORMAT_VERSION = 3


def salted(edges: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Annotate an edge table (``src``, ``dst`` columns) with its global
    source out-degree, salt and partition id."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    n_salt = F.when(F.col("out_deg") <= cfg.hub_degree_threshold, F.lit(1)).otherwise(
        F.least(
            F.lit(cfg.max_salt),
            F.ceil(F.col("out_deg") / F.lit(cfg.hub_degree_threshold)).cast("int"),
        )
    )
    e = edges.join(deg, "src").withColumn(
        "salt", salt_for("src", "dst", n_salt)
    )
    return e.withColumn("part", part_id("src", "salt", cfg.graph_partitions))


def pack_csr(edges: DataFrame, cfg: EngineConfig, path: str) -> dict:
    """Build per-partition CSR blocks and write them to ``path`` (one
    parquet file per block). Returns pack statistics, including the skew
    ratio (max/mean edges per partition) the lineage rows report.

    The group-by-partition build runs as ``applyInPandas`` — the one place
    imperative layout code is genuinely needed; everything feeding it is
    declarative.
    """
    e = salted(edges, cfg).select("part", "src", "dst", "out_deg")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(pdf["part"].iloc[0])
        order = np.lexsort((pdf["dst"].to_numpy(), pdf["src"].to_numpy()))
        src = pdf["src"].to_numpy()[order]
        dst = pdf["dst"].to_numpy()[order]
        deg = pdf["out_deg"].to_numpy()[order]
        src_ids, first_idx, counts = np.unique(
            src, return_index=True, return_counts=True
        )
        indptr = np.zeros(len(src_ids) + 1, dtype=np.int64)
        np.cumsum(counts, out=indptr[1:])
        return pd.DataFrame(
            {
                "part": [part],
                "n_src": [len(src_ids)],
                "n_edges": [len(dst)],
                "src_ids": [src_ids],
                "src_deg": [deg[first_idx].astype(np.int64)],
                "indptr": [indptr],
                "dst": [dst],
            }
        )

    blocks = e.groupBy("part").applyInPandas(build, schema=BLOCK_SCHEMA)
    (
        blocks.repartition(cfg.graph_partitions, "part")
        .write.mode("overwrite")
        .partitionBy("part")
        .parquet(path)
    )

    spark = edges.sparkSession
    stats_df = (
        spark.read.parquet(path)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("n_edges").alias("n_edges"),
            F.max("n_edges").alias("max_edges"),
            F.avg("n_edges").alias("mean_edges"),
            F.sum("n_src").alias("n_src_slots"),
        )
    )
    r = stats_df.first()
    import uuid

    stats = {
        # Unique per pack invocation: long-lived Python workers key their
        # in-memory CSR cache by (path, part, pack_id), so repacking a
        # DIFFERENT graph at the same path invalidates stale cache
        # entries instead of silently serving the previous graph's blocks
        # (ADVICE r1).
        "pack_id": uuid.uuid4().hex,
        "format_version": PACK_FORMAT_VERSION,
        "n_parts": int(r["n_parts"]),
        "n_edges": int(r["n_edges"]),
        "max_edges": int(r["max_edges"]),
        "mean_edges": float(r["mean_edges"]),
        "skew_ratio": float(r["max_edges"]) / max(float(r["mean_edges"]), 1.0),
        "n_src_slots": int(r["n_src_slots"]),
        "graph_partitions": cfg.graph_partitions,
    }
    with open(os.path.join(path, "_pack_stats.json"), "w") as f:
        json.dump(stats, f)
    return stats


def placement(edges: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(src, part) pairs: which partitions need which source vertex's
    state. A salted hub maps to several partitions; everything else to
    one. Cached by callers, hash-partitioned on ``src`` so the
    per-superstep state-distribution join is exchange-free on the state
    side."""
    return (
        salted(edges, cfg)
        .select("src", "part")
        .distinct()
        .repartition(cfg.shuffle_partitions, "src")
    )


# ---------------------------------------------------------------------------
# Worker-resident block cache. Spark reuses Python worker processes
# (spark.python.worker.reuse=true by default), so a module-level dict keeps
# each executor's blocks in memory across supersteps; a cache miss falls
# back to a local parquet read. Keyed by (pack path, part id, pack_id) so
# several packed graphs coexist AND a repack at the same path (new
# pack_id in _pack_stats.json) never serves stale blocks.
_BLOCK_CACHE: dict = {}


def _cache_put(key: tuple, blk) -> None:
    """Insert a block, evicting superseded entries for the same
    (path, part[, kind]) prefix with a DIFFERENT pack_id (the key's last
    element). Repack-by-default means every cascade-algo invocation
    mints a fresh pack_id; without eviction a long-lived app's reused
    Python workers accumulate one full copy of all CSR blocks per
    invocation — the bounded-executor-memory failure mode the engine
    elsewhere guards against (ADVICE r2)."""
    prefix = key[:-1]
    for k in [k for k in _BLOCK_CACHE if k[:-1] == prefix and k[-1] != key[-1]]:
        del _BLOCK_CACHE[k]
    _BLOCK_CACHE[key] = blk


def load_block(path: str, part: int, pack_id: str | None = None):
    """Fetch one CSR block as numpy arrays (cached per worker process).

    ``pack_id`` is the fingerprint from ``_pack_stats.json``; callers
    running iterative kernels MUST thread it through, otherwise a
    repack at the same path is invisible to reused workers."""
    key = (path, part, pack_id)
    blk = _BLOCK_CACHE.get(key)
    if blk is None:
        import pyarrow.dataset as ds

        tbl = ds.dataset(
            os.path.join(path, f"part={part}"), format="parquet"
        ).to_table()
        blk = {
            "src_ids": tbl["src_ids"][0].values.to_numpy(zero_copy_only=False),
            "src_deg": tbl["src_deg"][0].values.to_numpy(zero_copy_only=False),
            "indptr": tbl["indptr"][0].values.to_numpy(zero_copy_only=False),
            "dst": tbl["dst"][0].values.to_numpy(zero_copy_only=False),
        }
        _cache_put(key, blk)
    return blk


def unpack_csr(spark: SparkSession, path: str) -> DataFrame:
    """Round-trip: packed blocks back to an (src, dst) edge DataFrame
    (salted hub replicas merge back losslessly)."""
    blocks = spark.read.parquet(path)
    exploded = blocks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_src") - 1),
                lambda i: F.struct(
                    F.col("src_ids")[i].alias("src"),
                    F.slice(
                        F.col("dst"),
                        F.col("indptr")[i].cast("int") + 1,
                        (F.col("indptr")[i + 1] - F.col("indptr")[i]).cast("int"),
                    ).alias("adj"),
                ),
            )
        ).alias("z")
    ).select(F.col("z.src").alias("src"), F.explode("z.adj").alias("dst"))
    return exploded
