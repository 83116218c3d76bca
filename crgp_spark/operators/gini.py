"""Exact per-group Gini coefficient (Lorenz inequality) and Benford
first-digit audit — the two classic distribution-shape health checks a
warehouse runs on money-like columns.

Gini: with per-unit integer amounts ``x`` sorted ascending inside each
group and ``i`` the 1-based sort position,

    G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i)

Both sums are exact BIGINTs; ties make Σ i·x_i invariant to tie order
(equal values swap positions without changing the total), so the
engines need not agree on tie-breaking — only on the partitioned sort,
which is by value. The only float op is the final division at 6dp.
Overflow envelope: Σ i·x_i ≤ n²·max_x — int64-safe for n·√max_x ≲
3·10⁹ per group; both engines fail loudly beyond.

Benford: the leading significant digit of the integer cents against
the Benford expectation ``p_d = log10(1 + 1/d)``. The nine expected
probabilities are hard-coded double LITERALS (not engine ``log`` calls,
which round differently); the deviation statistic is the 8dp-quantized
chi-square fold of ``chi2_independence`` — order-free integer sums.

Plan shape: one groupBy(unit) to build amounts, one groupBy(group,
value) count, a two-level range-partitioned cumulative count (local
windows bounded by the range partition, never a whole group in one
task), one map-side-combinable moment aggregate per group. The reference has no
distribution-shape surface (terminal counters, ``statistics.rs:
17-131``); these are the standard audits its users run downstream.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crgp_spark.functions import decimal_round
from crgp_spark.plans.prefix import range_cumsum

__all__ = ["gini_coefficient", "benford_audit"]


def gini_coefficient(
    amounts: DataFrame,
    group_col: str = "g",
    value_col: str = "x",
) -> DataFrame:
    """Per group: ``(group_col, n, total, s2, gini)`` over integer
    ``value_col`` amounts — ``s2 = Σ rank·x`` (BIGINT), ``gini`` at
    6dp. Requires non-negative amounts (negative spend makes the
    Lorenz construction meaningless; validate upstream).

    Rank sums come from per-(group, value) counts and one global
    cumulative count over ``(group, value)`` (`plans/prefix`), rebased
    per group — no per-group single-task window, so a group of any
    size distributes (ADVICE r4).  A value run of count ``c`` starting at
    rank ``s`` contributes ``x·(c·s + c(c−1)/2)``, which is
    tie-order-invariant — identical to the row_number formulation."""
    cnt = (
        amounts.select(
            group_col, F.col(value_col).cast("long").alias("_x")
        )
        .groupBy(group_col, "_x")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    parts = max(amounts.sparkSession.sparkContext.defaultParallelism, 4)
    cum = range_cumsum(cnt, [group_col, "_x"], ["_c"], parts)
    # the cumulative count runs across groups: subtract each group's base
    base = cum.groupBy(group_col).agg(
        F.min(F.col("_cum__c") - F.col("_c")).alias("_base")
    )
    j = cum.join(base, group_col)
    # cum_le inclusive; run of _c equal values starts at rank s
    s = F.col("_cum__c") - F.col("_base") - F.col("_c") + 1
    run_rank_sum = F.col("_c") * s + F.shiftright(
        F.col("_c") * (F.col("_c") - 1), 1
    )
    g = j.groupBy(group_col).agg(
        F.sum("_c").alias("n"),
        F.sum(F.col("_x") * F.col("_c")).alias("total"),
        F.sum(F.col("_x") * run_rank_sum).alias("s2"),
    )
    gini = F.when(
        (F.col("total") > 0) & (F.col("n") > 0),
        (
            F.lit(2) * F.col("s2") - (F.col("n") + 1) * F.col("total")
        ).cast("double")
        / (F.col("n") * F.col("total")).cast("double"),
    ).otherwise(F.lit(0.0))
    return g.select(
        group_col,
        "n",
        "total",
        "s2",
        decimal_round(gini, 6).alias("gini"),
    ).orderBy(group_col)


#: Benford P(d) = log10(1 + 1/d), printed once at full double precision
#: so both engines compare against the identical literal.
_BENFORD = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_audit(
    amounts: DataFrame,
    value_col: str = "x",
) -> DataFrame:
    """First-significant-digit distribution of positive integer
    ``value_col`` vs Benford: ``(digit, n_obs, expected, chi2)`` —
    ``expected`` the Benford count at 4dp, ``chi2`` the 8dp-quantized
    deviation statistic (identical on every row, the
    ``chi2_independence`` fold). Zero/negative amounts are excluded
    (they have no leading significant digit)."""
    pos = amounts.select(F.col(value_col).cast("long").alias("_x")).filter(
        F.col("_x") > 0
    )
    digits = pos.select(
        F.substring(F.col("_x").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    cnt = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    return benford_from_counts(cnt)


def benford_from_counts(cnt: DataFrame) -> DataFrame:
    """The audit from already-counted ``(digit, n_obs)`` rows — split
    out so the streaming path (``streaming/windows.py::
    stream_benford``), whose state store maintains exactly these nine
    counts as a SUM monoid, folds into the identical report (stream ==
    batch contract)."""
    # keep all nine digits even when absent
    base = cnt.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    cells = base.join(cnt, "digit", "left").select(
        "digit", F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs")
    )
    tot = cells.agg(F.sum("n_obs").alias("_n"))
    p = F.element_at(
        F.array(*[F.lit(_BENFORD[d]) for d in range(1, 10)]),
        F.col("digit"),
    )
    j = cells.join(F.broadcast(tot))
    e = F.col("_n").cast("double") * p
    dev = F.col("n_obs").cast("double") - e
    term_q = F.floor(dev * dev / e * F.lit(1e8) + F.lit(0.5)).cast("long")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    chi2 = F.sum(term_q).over(wall).cast("double") / F.lit(1e8)
    return j.select(
        "digit",
        "n_obs",
        decimal_round(e, 4).alias("expected"),
        decimal_round(chi2, 4).alias("chi2"),
    ).orderBy("digit")
