"""2-D skyline (Pareto frontier): the points not dominated by any
other point, minimizing both coordinates.

The classic sequential algorithm sorts by x and keeps a running min of
y; the naive relational form is an O(n²) NOT-EXISTS self-join (that is
exactly what the DuckDB oracle twin runs — fine at gate scale, fatal
at 100 TB).  The distributed plan here is linear:

1. reduce to one candidate per distinct x: ``min(y)`` — a combinable
   groupBy (map-side partial agg), since only the lowest y at each x
   can survive;
2. strict-prefix min of y in x order WITHOUT a global single-partition
   window: range-split by x (`plans/prefix.range_split`, materialized
   once — the split feeds both branches below), take each range's
   local running min, and fold in the preceding ranges' minima via a
   metadata-sized (one row per range) broadcast — the two-level prefix
   idiom of `plans/prefix.range_cumsum`, with min in place of sum;
3. keep a candidate iff no preceding x has y <= its y (ties on y at a
   larger x are dominated), then join multiplicities back on.

Range partitioning puts equal x in one partition, so the cross-
partition fold only ever sees strictly-smaller x — strictness is
structural, not filtered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crgp_spark.plans.prefix import range_split


def skyline2d(df: DataFrame, x: str, y: str, partitions: int = 32) -> DataFrame:
    """Pareto frontier of ``df`` minimizing ``(x, y)`` — returns
    ``(x, y, n)``: the non-dominated points and how many input rows sit
    exactly on each.  Dominance: another point with both coordinates <=
    and at least one strictly <."""
    cnt = df.groupBy(x, y).agg(F.count(F.lit(1)).alias("n"))
    cand = cnt.groupBy(x).agg(F.min(y).alias(y))

    ranged = range_split(cand, [x], partitions)
    # local strict-prefix min (distinct x per row, so "preceding row"
    # == "strictly smaller x" within the partition)
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(x)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn("_pmin", F.min(y).over(w_local))
    # one row per partition; the running min over THIS tiny table is a
    # metadata-sized single-partition window, like a manifest read
    w_parts = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.min(y).alias("_py"))
        .withColumn("_omin", F.min("_py").over(w_parts))
        .select("_pid", "_omin")
    )
    merged = local.join(F.broadcast(offsets), "_pid")
    prefix = F.least(F.col("_pmin"), F.col("_omin"))
    keep = merged.where(prefix.isNull() | (F.col(y) < prefix)).select(x, y)
    return keep.join(cnt, [x, y]).select(x, y, "n")
