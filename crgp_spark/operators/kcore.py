"""k-core decomposition by distributed iterative peeling.

The k-core of a graph is the maximal subgraph in which every vertex has
degree >= k (undirected, simple).  Peeling is the textbook fixpoint:
drop every vertex with degree < k, recompute degrees, repeat — the edge
set only shrinks, so each round is a strictly smaller groupBy + two
semi-joins and the loop terminates in at most |V| rounds (a handful in
practice).

Scale shape per round: one map-side-combinable ``groupBy(u).count`` and
two semi-joins of the (shrinking) edge list against the (|V|-row) keep
set — the keep set is per-round state, so it goes through
``plans/superstep.state_hint`` (broadcast only below the 1M-vertex
carve-out, shuffle-hash above).  No per-vertex state beyond an id, no
collects; the convergence probe is a count+bit_xor checksum scalar, the
same as components.py.

``fixed_rounds`` pins the round count for oracle replay (the driver
gate unrolls the same rounds in SQL, like BFS's pinned supersteps);
``fixed_rounds=None`` runs to the exact k-core fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.plans.superstep import observed_checkpoint, state_hint


def _digest_aggs() -> dict:
    # order-insensitive digest of a deduplicated edge set, observed on
    # the round's checkpoint job (no aggregate action of its own)
    return {"n": F.count(F.lit(1)), "h": F.bit_xor(F.xxhash64("u", "v"))}


def _digest(m: dict) -> tuple[int, int]:
    return int(m["n"]), int(m["h"] or 0)


def kcore(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 3,
    fixed_rounds: int | None = None,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Vertices of the k-core with their in-core degree: ``(vid, deg)``.

    With ``fixed_rounds=R`` the result is the state after exactly R peel
    rounds (vertices whose round-R degree is >= k, with that degree) —
    deterministic and SQL-replayable; the fixpoint result is the true
    k-core.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e, m = observed_checkpoint(
        und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(cfg.shuffle_partitions if cfg else 32, "u"),
        "kcore edges it=0",
        **_digest_aggs(),
    )
    prev = _digest(m)
    max_rounds = fixed_rounds if fixed_rounds is not None else 10_000
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    for it in range(max_rounds):
        deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("u")
        n_bound = prev[0]  # |keep| <= |directed edge rows|
        # localCheckpoint truncates the per-round plan (superstep.py)
        e, m = observed_checkpoint(
            e.join(state_hint(keep, n_bound), "u", "left_semi").join(
                state_hint(keep.withColumnRenamed("u", "v"), n_bound),
                "v",
                "left_semi",
            ),
            f"kcore peel it={it + 1}",
            **_digest_aggs(),
        )
        cur = _digest(m)
        if fixed_rounds is None and cur == prev:
            break
        prev = cur
    return deg.filter(F.col("deg") >= k).select(
        F.col("u").alias("vid"), F.col("deg").cast("int").alias("deg")
    )
