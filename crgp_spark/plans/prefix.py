"""Global prefix aggregates over a range split — the one home of the
two-level range-partitioned prefix sum.

A global running sum over a single ``Window.orderBy`` would pull the
whole input into one task.  The two-level form keeps every window
partition-local: range-partition by the order key, take each
partition's local running sum, and fold in the totals of the
preceding partitions from a one-row-per-partition offset table
(metadata-sized, broadcast back).

The range split is the one decision this module owns.
``repartitionByRange`` picks its bounds from a reservoir SAMPLE of the
input, and the sample depends on the order rows arrive in.  A split
that feeds two branches (the local window and the offset table) is
therefore planned and sampled twice; once the input is larger than
the sampler's per-partition quota and its order is not fixed (any
shuffle output), the two branches can disagree on which range a row
sits in, and the prefix sums come out wrong — and differently wrong
from run to run.  `range_split` materializes the split, range ids
included, exactly once; every branch then reads the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["range_split", "range_cumsum"]


def range_split(
    df: DataFrame, order_cols: list[str], partitions: int
) -> DataFrame:
    """``df`` range-partitioned by ``order_cols`` into ``partitions``
    ranges, plus ``_pid`` = the range id (range ids follow the order
    key: every row of range ``i`` sorts before every row of range
    ``i + 1``, and equal keys share a range).  Materialized once, so
    any number of branches may read it."""
    return (
        df.repartitionByRange(partitions, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


def range_cumsum(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    partitions: int,
) -> DataFrame:
    """``df`` plus ``_cum_<col>`` for each of ``sum_cols``: the
    inclusive running sum of ``col`` over the GLOBAL ``order_cols``
    ordering.  The order key should be unique per row; among rows with
    equal keys the running sum follows an arbitrary order."""
    ranged = range_split(df, order_cols, partitions)
    wloc = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = ranged.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_t_{c}") for c in sum_cols]
    ).select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_t_{c}").over(woff), F.lit(0)).alias(f"_o_{c}")
            for c in sum_cols
        ],
    )
    local = ranged.select(
        "*", *[F.sum(c).over(wloc).alias(f"_l_{c}") for c in sum_cols]
    )
    return local.join(F.broadcast(offsets), "_pid").select(
        *df.columns,
        *[
            (F.col(f"_l_{c}") + F.col(f"_o_{c}")).cast("long").alias(f"_cum_{c}")
            for c in sum_cols
        ],
    )
