"""Exact Spearman rank correlation — doubled midranks + BIGINT moments.

The robust "is this metric monotonically related to that one" readout
(quality score vs document length, pre- vs post-period spend).
Pearson-on-ranks needs midranks for ties; midranks are half-integers,
so everything here carries the DOUBLED midrank

    r2(v) = 2·|{u : x_u < x_v}| + |{u : x_u = x_v}| + 1

— an integer, computed from value-level counts (no per-row sort), the
``evalmetrics.py::roc_auc`` doubled-rank idiom. The constant factor 2
cancels in the correlation, so Pearson over (r2x, r2y) IS Spearman's
rho. All six moments (n, Σx, Σy, Σx², Σy², Σxy) are exact BIGINTs in
one map-side-combinable aggregate; the only float math is the final

    rho = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²) · (n·Syy − Sy²))

in pinned expression order (the ``graphstats.py::mixing_stats``
contract). Overflow envelope: r2 ≤ 2n+1 so the product moments are
~4n³, and ``num``/``denx``/``deny`` multiply them by n (~4n⁴) —
int64-safe only to n ≈ 3.9·10⁴ rows (``n·Sxy`` overflows at 60k
pairs); both engines fail loudly beyond (switch the moments to
DECIMAL(38,0) for larger inputs, same caveat as ``mixing_stats``).

The rank pass itself is value-level: one groupBy per column plus one
cumulative count over DISTINCT values via the range-partitioned
two-level prefix sum (``plans/prefix.range_cumsum``) — no
single-task window touches data-sized input. The reference has no
correlation surface (terminal counters only, ``statistics.rs:17-131``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crgp_spark.functions import decimal_round
from crgp_spark.plans.prefix import range_cumsum

__all__ = ["spearman_rho"]


def _doubled_midranks(
    df: DataFrame, col: str, out: str, partitions: int
) -> DataFrame:
    """(col, r2) per DISTINCT value of ``col``: doubled midrank via a
    global cumulative count over the distinct values."""
    cnt = df.groupBy(col).agg(F.count(F.lit(1)).alias("_c"))
    # cum_le = cumulative count ≤ value; lt = cum_le - c
    return range_cumsum(cnt, [col], ["_c"], partitions).select(
        col,
        (F.lit(2) * (F.col("_cum__c") - F.col("_c")) + F.col("_c") + F.lit(1))
        .cast("long")
        .alias(out),
    )


def spearman_rho(
    pairs: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    partitions: int = 32,
) -> DataFrame:
    """One row ``(n, num, denx, deny, rho)`` over ``(x_col, y_col)``:
    ``num = n·Sxy − Sx·Sy`` and the two variance terms are exact
    BIGINTs over doubled midranks; ``rho`` is the one pinned-order
    float expression, at 6dp."""
    rx = _doubled_midranks(pairs, x_col, "r2x", partitions)
    ry = _doubled_midranks(pairs, y_col, "r2y", partitions)
    ranked = (
        pairs.select(x_col, y_col)
        .join(rx.hint("shuffle_hash"), x_col)
        .join(ry.hint("shuffle_hash"), y_col)
    )
    g = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r2x").alias("sx"),
        F.sum("r2y").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).alias("syy"),
        F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    rho = F.when(
        (denx > 0) & (deny > 0),
        num.cast("double")
        / F.sqrt(denx.cast("double") * deny.cast("double")),
    ).otherwise(F.lit(0.0))
    return g.select(
        "n",
        num.cast("long").alias("num"),
        denx.cast("long").alias("denx"),
        deny.cast("long").alias("deny"),
        decimal_round(rho, 6).alias("rho"),
    )
