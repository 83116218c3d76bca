"""A/B experimentation analytics: CUPED variance-reduced arm summary.

The analytics family every event warehouse eventually grows:
experiment readout with CUPED (Deng et al. 2013) — adjust each unit's
post-period metric by its PRE-period covariate, cutting variance
without biasing the mean.

Cross-engine exactness is the design driver (floating-point SUMs are
order-dependent, so naive mean-of-adjusted-values would differ run to
run, let alone engine to engine): every data-sized aggregation here
is an INTEGER sum of cents (or products of cents — see the envelope
below), and all floating point happens in fixed expression order on
the handful of single-row aggregates:

    theta    = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²)        (one division)
    adj mean = (Sy_a − θ·(Sx_a − n_a·(Sx/n))) / (100·n_a)

Overflow envelope (binding term ``n·Sxx``): per-user pre-period cents
up to ~10^7 across ~10^4 users keeps everything under 2^63; both
engines fail loudly beyond it (the `anomaly.rolling_anomalies`
posture) — rescale the unit for heavier metrics.

Plan shape: one groupBy(user) (map-side combinable conditional sums),
one 2-row arm rollup, one 1-row global, and the sanctioned 1-row
broadcast cross-join (the Q11 idiom) to fold theta in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crgp_spark.functions import decimal_round
from crgp_spark.plans.prefix import range_cumsum

_DAY_US = 86_400_000_000


def srm_check(
    events: DataFrame,
    user_col: str = "user_id",
    n_arms: int = 2,
) -> DataFrame:
    """Sample-ratio-mismatch health check: per arm, the distinct-unit
    count plus the chi-square statistic against equal allocation —
    ``(arm, n_units, n_total, expected, chi2)`` (``chi2`` identical
    on every row; compare against the chi-square critical value for
    ``n_arms - 1`` dof downstream — the statistic itself is the
    engine-exact part, p-values need ``log``/``gamma`` that engines
    disagree on).  Integer counts, float math on the ``n_arms``-row
    aggregate only."""
    if n_arms < 2:
        raise ValueError("n_arms must be >= 2")
    units = events.select(F.col(user_col).alias("u")).distinct()
    arms = units.groupBy(
        F.pmod(F.col("u"), F.lit(n_arms)).cast("int").alias("arm")
    ).agg(F.count(F.lit(1)).alias("n_units"))
    tot = arms.agg(F.sum("n_units").alias("n_total"))
    j = arms.join(F.broadcast(tot))
    expected = F.col("n_total").cast("double") / F.lit(float(n_arms))
    dev = F.col("n_units").cast("double") - expected
    chi2_term = dev * dev / expected
    # chi2 = sum of terms over ALL arms: n_arms rows — a metadata-sized
    # unpartitioned window is fine here
    chi2 = F.sum(chi2_term).over(
        Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return j.select(
        "arm",
        "n_units",
        "n_total",
        decimal_round(expected, 4).alias("expected"),
        decimal_round(chi2, 4).alias("chi2"),
    ).orderBy("arm")


def ks_test(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
    n_arms: int = 2,
    partitions: int = 32,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between the two
    experiment arms' per-user metric distributions: one row
    ``(n0, n1, d_num, d_stat)`` where the metric is each user's total
    value in cents, arms are ``pmod(user, 2)``, and

        D = max over metric values |F0(y) − F1(y)|
          = max |cum0·n1 − cum1·n0| / (n0·n1)  =  d_num / (n0·n1).

    Everything up to the final division is BIGINT: per-user cent sums,
    value-level arm counts, cumulative counts, and the cross-multiplied
    ECDF gap (overflow envelope ``cum·n ≤ n0·n1``: safe to ~3·10^9
    users per arm, both engines fail loudly beyond).

    100 TB design: the ECDF prefix sum is NOT a single-task window —
    distinct metric values are range-partitioned, each partition scans
    its local cumulative, and a ``partitions``-row offset table (one
    row per range) is broadcast back (``plans/prefix.range_cumsum``).
    No shuffle exceeds the distinct-value count; the only
    single-row stage is the final max.

    The reference has no hypothesis-testing surface (terminal counters
    only, ``statistics.rs:17-131``); KS is the standard distribution-
    shift readout its users run on experiment metrics downstream."""
    if n_arms != 2:
        raise ValueError("ks_test is a two-sample test: n_arms must be 2")
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    per_user = (
        events.select(F.col(user_col).alias("u"), cents.alias("c"))
        .groupBy("u")
        .agg(F.sum("c").alias("y"))
    )
    return ks_from_user_totals(per_user, partitions=partitions)


def ks_from_user_totals(
    per_user: DataFrame, partitions: int = 32
) -> DataFrame:
    """The KS statistic from an already-aggregated ``(u, y)`` per-user
    totals table — split out so the streaming path
    (``streaming/windows.py::stream_ks_test``), whose state store
    maintains exactly this table as a per-key SUM monoid, folds into
    the identical statistic (stream == batch contract)."""
    per_user = per_user.withColumn(
        "arm", F.pmod(F.col("u"), F.lit(2)).cast("int")
    )
    cnt = per_user.groupBy("y").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("c1"),
    )
    tot = cnt.agg(
        F.sum("c0").alias("n0"), F.sum("c1").alias("n1")
    )
    cum = range_cumsum(cnt, ["y"], ["c0", "c1"], partitions).select(
        "y", F.col("_cum_c0").alias("cum0"), F.col("_cum_c1").alias("cum1")
    )
    gap = cum.join(F.broadcast(tot)).select(
        "n0",
        "n1",
        F.abs(
            F.col("cum0") * F.col("n1") - F.col("cum1") * F.col("n0")
        ).alias("ad"),
    )
    return gap.groupBy("n0", "n1").agg(
        F.max("ad").alias("d_num")
    ).select(
        "n0",
        "n1",
        "d_num",
        decimal_round(
            F.col("d_num").cast("double")
            / (F.col("n0").cast("double") * F.col("n1").cast("double")),
            6,
        ).alias("d_stat"),
    )


def cuped_summary(
    events: DataFrame,
    split_day: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_arms: int = 2,
) -> DataFrame:
    """Per experiment arm (``pmod(user, n_arms)``): ``(arm, n_users,
    mean_post, mean_adj, theta)`` — post-period mean value per user
    and its CUPED-adjusted version, using the pre-``split_day``
    (epoch-day) value sum as the covariate.  ``theta`` is the global
    regression coefficient (identical on every row), all at 4dp."""
    if n_arms < 2:
        raise ValueError("n_arms must be >= 2")
    from crgp_spark.functions import ts_micros

    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    base = events.select(
        F.col(user_col).alias("u"),
        ts_micros(ts_col).alias("_us"),
        cents.alias("c"),
    ).selectExpr("u", f"_us div {_DAY_US} AS day", "c")
    per_user = base.groupBy("u").agg(
        F.sum(F.when(F.col("day") < split_day, F.col("c")).otherwise(0))
        .alias("x"),
        F.sum(F.when(F.col("day") >= split_day, F.col("c")).otherwise(0))
        .alias("y"),
    ).withColumn("arm", F.pmod(F.col("u"), F.lit(n_arms)).cast("int"))
    glob = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    glob = glob.select(
        F.when(den != 0, num / den).otherwise(F.lit(0.0)).alias("_theta"),
        (F.col("sx").cast("double") / F.col("n").cast("double")).alias(
            "_mean_x"
        ),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("sx_a"),
        F.sum("y").alias("sy_a"),
    )
    j = arms.join(F.broadcast(glob))
    mean_post = decimal_round(
        F.col("sy_a").cast("double")
        / (F.lit(100).cast("double") * F.col("n_users").cast("double")),
        4,
    )
    mean_adj = decimal_round(
        (
            F.col("sy_a").cast("double")
            - F.col("_theta")
            * (
                F.col("sx_a").cast("double")
                - F.col("n_users").cast("double") * F.col("_mean_x")
            )
        )
        / (F.lit(100).cast("double") * F.col("n_users").cast("double")),
        4,
    )
    return j.select(
        "arm",
        "n_users",
        mean_post.alias("mean_post"),
        mean_adj.alias("mean_adj"),
        decimal_round(F.col("_theta"), 4).alias("theta"),
    ).orderBy("arm")


def chi2_independence(
    events: DataFrame,
    cat_col: str = "event_type",
    user_col: str = "user_id",
    n_arms: int = 2,
) -> DataFrame:
    """Chi-square test of independence between a categorical column
    and the experiment arm (``pmod(user, n_arms)``): per contingency
    cell ``(cat, arm, n_obs, expected, chi2, dof)`` — ``chi2`` and
    ``dof`` identical on every row (compare to the critical value
    downstream; p-values need gamma functions engines disagree on,
    the ``srm_check`` posture).

    Cross-engine determinism for the R×C-term float sum: float
    addition is order-dependent (and DuckDB's windowed SUM combines
    via a segment tree, not a left fold), so each cell's
    ``(o − e)²/e`` is QUANTIZED to a BIGINT at 8dp first — integer
    addition is order-free — and the integer total is divided back
    once at the end. The statistic is therefore "chi-square with
    8-decimal per-term quantization", bit-identical in any engine and
    summation order; the 4dp report absorbs the quantization for any
    realistic table.

    Plan shape: one groupBy(cat, arm) count (map-side combinable),
    two marginal rollups re-joined by broadcast, one metadata-sized
    ordered window over the R×C cells."""
    if n_arms < 2:
        raise ValueError("n_arms must be >= 2")
    cells = events.groupBy(
        F.col(cat_col).alias("cat"),
        F.pmod(F.col(user_col), F.lit(n_arms)).cast("int").alias("arm"),
    ).agg(F.count(F.lit(1)).alias("n_obs"))
    return chi2_from_cells(cells)


def _chi2_term_cells(cells: DataFrame) -> DataFrame:
    """Per-cell contingency frame with the 8dp-quantized chi-square
    term ``_tq`` (BIGINT) plus marginals ``_r/_c/_n/_nr/_nc`` and the
    float expected value ``_e`` — the single quantization contract
    shared by `chi2_from_cells` and `cramers_v` (ADVICE r4: V must
    fold the same integer sum, not the 4dp-rounded report)."""
    rows = cells.groupBy("cat").agg(F.sum("n_obs").alias("_r"))
    colt = cells.groupBy("arm").agg(F.sum("n_obs").alias("_c"))
    tot = cells.agg(
        F.sum("n_obs").alias("_n"),
        F.count_distinct("cat").alias("_nr"),
        F.count_distinct("arm").alias("_nc"),
    )
    j = (
        cells.join(F.broadcast(rows), "cat")
        .join(F.broadcast(colt), "arm")
        .join(F.broadcast(tot))
    )
    e = (
        F.col("_r").cast("double")
        * F.col("_c").cast("double")
        / F.col("_n").cast("double")
    )
    dev = F.col("n_obs").cast("double") - e
    term_q = F.floor(dev * dev / e * F.lit(1e8) + F.lit(0.5)).cast("long")
    return j.withColumn("_e", e).withColumn("_tq", term_q)


def chi2_from_cells(cells: DataFrame) -> DataFrame:
    """The statistic from an already-counted ``(cat, arm, n_obs)``
    contingency table — split out so the streaming path
    (``streaming/windows.py::stream_chi2_test``), whose state store
    maintains exactly these cell counts as a per-key SUM monoid,
    folds into the identical statistic (stream == batch contract)."""
    j = _chi2_term_cells(cells)
    e = F.col("_e")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    chi2 = F.sum("_tq").over(wall).cast("double") / F.lit(1e8)
    return j.select(
        "cat",
        "arm",
        "n_obs",
        decimal_round(e, 4).alias("expected"),
        decimal_round(chi2, 4).alias("chi2"),
        ((F.col("_nr") - 1) * (F.col("_nc") - 1))
        .cast("long")
        .alias("dof"),
    ).orderBy("cat", "arm")


def did_estimate(
    events: DataFrame,
    split_day: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Difference-in-differences readout: arm 1 = treated, arm 0 =
    control (``pmod(user, 2)``), periods split at epoch-day
    ``split_day``. One row

        (n0, n1, pre0, post0, pre1, post1, did)

    with the four cell means in dollars at 4dp and

        did = (post1 − pre1) − (post0 − pre0)

    computed from exact integer cent sums and distinct-user counts;
    the five float expressions are pinned-order divisions of exact
    integers (the ``cuped_summary`` contract). The classic
    quasi-experimental estimate when assignment isn't random."""
    from crgp_spark.functions import ts_micros

    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    base = events.select(
        F.col(user_col).alias("u"),
        ts_micros(ts_col).alias("_us"),
        cents.alias("c"),
    ).selectExpr("u", f"_us div {_DAY_US} AS day", "c")
    per_arm = base.groupBy(
        F.pmod(F.col("u"), F.lit(2)).cast("int").alias("arm")
    ).agg(
        F.count_distinct("u").alias("n_users"),
        F.sum(
            F.when(F.col("day") < split_day, F.col("c")).otherwise(0)
        ).alias("pre_c"),
        F.sum(
            F.when(F.col("day") >= split_day, F.col("c")).otherwise(0)
        ).alias("post_c"),
    )
    a0 = per_arm.filter(F.col("arm") == 0).select(
        F.col("n_users").alias("n0"),
        F.col("pre_c").alias("pre0_c"),
        F.col("post_c").alias("post0_c"),
    )
    a1 = per_arm.filter(F.col("arm") == 1).select(
        F.col("n_users").alias("n1"),
        F.col("pre_c").alias("pre1_c"),
        F.col("post_c").alias("post1_c"),
    )
    j = a0.join(F.broadcast(a1))
    mean = lambda c, n: F.col(c).cast("double") / (  # noqa: E731
        F.lit(100.0) * F.col(n).cast("double")
    )
    did = (mean("post1_c", "n1") - mean("pre1_c", "n1")) - (
        mean("post0_c", "n0") - mean("pre0_c", "n0")
    )
    return j.select(
        "n0",
        "n1",
        decimal_round(mean("pre0_c", "n0"), 4).alias("pre0"),
        decimal_round(mean("post0_c", "n0"), 4).alias("post0"),
        decimal_round(mean("pre1_c", "n1"), 4).alias("pre1"),
        decimal_round(mean("post1_c", "n1"), 4).alias("post1"),
        decimal_round(did, 4).alias("did"),
    )


def prop_test(
    events: DataFrame,
    success_expr: Column | None = None,
    user_col: str = "user_id",
) -> DataFrame:
    """Two-proportion z-test on per-user conversion between the two
    arms (``pmod(user, 2)``): one row

        (n0, x0, n1, x1, p0, p1, z)

    where ``x_a`` counts converted users (any event satisfying
    ``success_expr``), ``p_a`` the conversion rates at 6dp, and

        z = (p1 − p0) / sqrt(p̂(1−p̂)(1/n0 + 1/n1)),  p̂ pooled

    — the standard conversion-rate readout next to ``srm_check`` /
    ``chi2_independence``. Counts are exact BIGINTs from one grouped
    aggregate; the z expression is pinned-order float on the 1-row
    combine (0.0 when degenerate: empty arm or p̂ ∈ {0, 1})."""
    if success_expr is None:
        success_expr = F.col("event_type") == "purchase"
    per_user = events.groupBy(F.col(user_col).alias("u")).agg(
        F.max(F.when(success_expr, 1).otherwise(0)).alias("conv")
    )
    arms = per_user.groupBy(
        F.pmod(F.col("u"), F.lit(2)).cast("int").alias("arm")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").cast("long").alias("x"),
    )
    a0 = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0"), F.col("x").alias("x0")
    )
    a1 = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("x").alias("x1")
    )
    j = a0.join(F.broadcast(a1))
    fd = lambda c: F.col(c).cast("double")  # noqa: E731
    p0 = fd("x0") / fd("n0")
    p1 = fd("x1") / fd("n1")
    pp = (fd("x0") + fd("x1")) / (fd("n0") + fd("n1"))
    se = F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / fd("n0") + F.lit(1.0) / fd("n1"))
    )
    z = F.when(
        (F.col("n0") > 0)
        & (F.col("n1") > 0)
        & (F.col("x0") + F.col("x1") > 0)
        & (F.col("x0") + F.col("x1") < F.col("n0") + F.col("n1")),
        (p1 - p0) / se,
    ).otherwise(F.lit(0.0))
    return j.select(
        "n0",
        "x0",
        "n1",
        "x1",
        decimal_round(p0, 6).alias("p0"),
        decimal_round(p1, 6).alias("p1"),
        decimal_round(z, 6).alias("z"),
    )


def cramers_v(
    events: DataFrame,
    cat_col: str = "event_type",
    user_col: str = "user_id",
    n_arms: int = 2,
) -> DataFrame:
    """Cramér's V effect size for the ``chi2_independence``
    contingency: one row ``(n, chi2, dof, v)`` where

        V = sqrt( chi2 / (n · min(R−1, C−1)) )

    — the bounded-[0,1] "how strong is the dependence" companion to
    the chi2 statistic (which grows with n). ``chi2`` is the same
    8dp-quantized order-free integer fold as the chi2 entry
    (`_chi2_term_cells` — V folds the raw quantized integer sum, not
    the 4dp-rounded report, so no extra rounding step enters the
    sqrt; the reported ``chi2`` column keeps the 4dp contract); ``v``
    is one pinned sqrt/division at 6dp."""
    counted = events.groupBy(
        F.col(cat_col).alias("cat"),
        F.pmod(F.col(user_col), F.lit(n_arms)).cast("int").alias("arm"),
    ).agg(F.count(F.lit(1)).alias("n_obs"))
    one = _chi2_term_cells(counted).agg(
        F.sum("_tq").alias("_chi2_q"),
        F.first("_nr").alias("_nr"),
        F.first("_nc").alias("_nc"),
    ).select(
        (F.col("_chi2_q").cast("double") / F.lit(1e8)).alias("_chi2_raw"),
        decimal_round(F.col("_chi2_q").cast("double") / F.lit(1e8), 4).alias(
            "chi2"
        ),
        ((F.col("_nr") - 1) * (F.col("_nc") - 1)).cast("long").alias("dof"),
    )
    tot = events.agg(F.count(F.lit(1)).alias("n"))
    j = tot.join(F.broadcast(one))
    # dof = (R-1)(C-1); with C = n_arms, min(R-1, C-1) =
    # min(dof / (C-1), C-1)
    r_minus_1 = (F.col("dof") / F.lit(n_arms - 1)).cast("long")
    mindof = F.least(r_minus_1, F.lit(n_arms - 1).cast("long"))
    v = F.when(
        (F.col("n") > 0) & (mindof > 0) & (F.col("_chi2_raw") >= 0),
        F.sqrt(
            F.col("_chi2_raw")
            / (F.col("n").cast("double") * mindof.cast("double"))
        ),
    ).otherwise(F.lit(0.0))
    return j.select(
        "n",
        "chi2",
        "dof",
        decimal_round(v, 6).alias("v"),
    )


def odds_ratio(
    events: DataFrame,
    success_expr: Column | None = None,
    user_col: str = "user_id",
) -> DataFrame:
    """Odds ratio of per-user conversion between the arms with the
    Woolf log CI: one row ``(a, b, c, d, or_val, lo, hi)`` where the
    2×2 table is (a = arm1 converted, b = arm1 not, c = arm0
    converted, d = arm0 not), ``or_val = (a·d)/(b·c)`` and

        CI = exp( ln OR ± 1.96·sqrt(1/a + 1/b + 1/c + 1/d) )

    All four cells are exact BIGINTs; the five float expressions
    (ratio, ln, se, two exps) are pinned-order on the 1-row combine —
    ln/exp appear ONCE each side with no cross-engine summation, and
    the 6dp report absorbs last-ulp libm differences (the documented
    ``_lnq`` margin argument). Zero cells report (0, 0, 0) for the
    ratio columns — add the Haldane 0.5 upstream if needed."""
    if success_expr is None:
        success_expr = F.col("event_type") == "purchase"
    per_user = events.groupBy(F.col(user_col).alias("u")).agg(
        F.max(F.when(success_expr, 1).otherwise(0)).alias("conv")
    )
    g = per_user.agg(
        F.sum(
            F.when(
                (F.pmod(F.col("u"), F.lit(2)) == 1) & (F.col("conv") == 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("a"),
        F.sum(
            F.when(
                (F.pmod(F.col("u"), F.lit(2)) == 1) & (F.col("conv") == 0),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when(
                (F.pmod(F.col("u"), F.lit(2)) == 0) & (F.col("conv") == 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(
            F.when(
                (F.pmod(F.col("u"), F.lit(2)) == 0) & (F.col("conv") == 0),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("d"),
    )
    ok = (
        (F.col("a") > 0)
        & (F.col("b") > 0)
        & (F.col("c") > 0)
        & (F.col("d") > 0)
    )
    fd = lambda c: F.col(c).cast("double")  # noqa: E731
    orv = (fd("a") * fd("d")) / (fd("b") * fd("c"))
    se = F.sqrt(
        F.lit(1.0) / fd("a")
        + F.lit(1.0) / fd("b")
        + F.lit(1.0) / fd("c")
        + F.lit(1.0) / fd("d")
    )
    lo = F.exp(F.log(orv) - F.lit(1.96) * se)
    hi = F.exp(F.log(orv) + F.lit(1.96) * se)
    z = F.lit(0.0)
    return g.select(
        "a",
        "b",
        "c",
        "d",
        decimal_round(F.when(ok, orv).otherwise(z), 6).alias("or_val"),
        decimal_round(F.when(ok, lo).otherwise(z), 6).alias("lo"),
        decimal_round(F.when(ok, hi).otherwise(z), 6).alias("hi"),
    )
