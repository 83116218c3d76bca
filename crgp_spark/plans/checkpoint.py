"""Atomic per-superstep checkpoints with delta encoding, lineage and
resume (north rule; SURVEY.md §7.2 M3, risk R3).

Layout, per algorithm run::

    {root}/{algo}/iter_00007/
        state/      parquet — full snapshot OR delta (changed rows only)
        lineage/    parquet — one row per graph partition (schemas.LINEAGE);
                    a driver-built pandas frame is written by pyarrow,
                    with no Spark job
        manifest.json   written LAST via tmp+rename → commit point

A checkpoint exists iff its manifest exists (the ``_SUCCESS``-guarded
analog of an Iceberg snapshot commit; parquet fallback per SURVEY.md R4 —
no Iceberg runtime jar ships in this sandbox). Resume loads the latest
full snapshot and folds later deltas over it (latest-iteration row wins
per vertex), which reconstructs the exact mid-run state.

This replaces the reference's epoch barrier (``timely_extensions/
sync.rs:27-41``) + single-writer funnel (``write.rs:45``) with partitioned
writes and an explicit commit protocol — the reference cannot resume at
all; a killed run restarts from scratch.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from crgp_spark.schemas import LINEAGE

_ITER_RE = re.compile(r"^iter_(\d{5})$")


@dataclass
class Checkpoint:
    iteration: int
    kind: str  # "full" | "delta"
    converged: bool
    metrics: dict
    path: str


def _write_lineage_frame(lineage: pd.DataFrame, path: str) -> None:
    """Write driver-built lineage rows (columns of ``schemas.LINEAGE``)
    as one parquet file, cast to that schema, without a Spark job."""
    schema = to_arrow_schema(LINEAGE)
    table = pa.Table.from_pandas(
        lineage[schema.names], schema=schema, preserve_index=False
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


class CheckpointManager:
    def __init__(self, root: str, algo: str, snapshot_every: int = 5):
        self.dir = os.path.join(root, algo)
        self.snapshot_every = snapshot_every
        os.makedirs(self.dir, exist_ok=True)

    # -- write ------------------------------------------------------------
    def commit(
        self,
        iteration: int,
        state: DataFrame,
        lineage: DataFrame | pd.DataFrame | None,
        kind: str,
        converged: bool,
        metrics: dict,
    ) -> Checkpoint:
        it_dir = os.path.join(self.dir, f"iter_{iteration:05d}")
        if os.path.exists(it_dir):
            shutil.rmtree(it_dir)  # torn previous attempt — no manifest, dead
        state.write.mode("overwrite").parquet(os.path.join(it_dir, "state"))
        if isinstance(lineage, pd.DataFrame):
            _write_lineage_frame(lineage, os.path.join(it_dir, "lineage"))
        elif lineage is not None:
            lineage.write.mode("overwrite").parquet(os.path.join(it_dir, "lineage"))
        manifest = {
            "iteration": iteration,
            "kind": kind,
            "converged": converged,
            "metrics": metrics,
        }
        tmp = os.path.join(it_dir, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(it_dir, "manifest.json"))
        return Checkpoint(iteration, kind, converged, metrics, it_dir)

    # -- read -------------------------------------------------------------
    def checkpoints(self) -> list[Checkpoint]:
        out = []
        if not os.path.isdir(self.dir):
            return out
        for name in sorted(os.listdir(self.dir)):
            m = _ITER_RE.match(name)
            if not m:
                continue
            mf = os.path.join(self.dir, name, "manifest.json")
            if not os.path.exists(mf):
                continue  # uncommitted / torn checkpoint — ignored
            with open(mf) as f:
                meta = json.load(f)
            out.append(
                Checkpoint(
                    meta["iteration"],
                    meta["kind"],
                    meta["converged"],
                    meta.get("metrics", {}),
                    os.path.join(self.dir, name),
                )
            )
        return out

    def latest(self) -> Checkpoint | None:
        cks = self.checkpoints()
        return cks[-1] if cks else None

    def load_state(self, spark: SparkSession, upto: Checkpoint) -> DataFrame:
        """Reconstruct full state at ``upto``: last full snapshot + all
        later deltas, latest-iteration row per vertex wins."""
        if upto.kind == "full":
            # full snapshots load verbatim (also the path for algorithms
            # whose state is not one-row-per-vid, e.g. the CC edge set)
            return spark.read.parquet(os.path.join(upto.path, "state"))
        cks = [c for c in self.checkpoints() if c.iteration <= upto.iteration]
        base_idx = max(
            (i for i, c in enumerate(cks) if c.kind == "full"), default=None
        )
        if base_idx is None:
            raise ValueError(f"no full snapshot at or before iter {upto.iteration}")
        layers = cks[base_idx:]
        dfs = [
            spark.read.parquet(os.path.join(c.path, "state")).withColumn(
                "_ck_iter", F.lit(c.iteration)
            )
            for c in layers
        ]
        unioned = dfs[0]
        for d in dfs[1:]:
            unioned = unioned.unionByName(d)
        value_cols = [c for c in unioned.columns if c not in ("vid", "_ck_iter")]
        picked = unioned.groupBy("vid").agg(
            F.max_by(F.struct(*value_cols), F.col("_ck_iter")).alias("_v")
        )
        return picked.select("vid", *[F.col(f"_v.{c}").alias(c) for c in value_cols])

    def lineage(self, spark: SparkSession) -> DataFrame | None:
        paths = [
            os.path.join(c.path, "lineage")
            for c in self.checkpoints()
            if os.path.isdir(os.path.join(c.path, "lineage"))
        ]
        if not paths:
            return None
        return spark.read.parquet(*paths)
