"""Grouped series statistics: OLS trend lines, CUSUM change-point scans,
and rank-based score normalization — the monitoring/QA layer that turns the
engine's tallies into decisions (is quality drifting? did a source change
behavior on some day? are scores comparable across sources?).

All pure Catalyst: trends use the SQL-standard ``regr_*`` aggregates
(JVM codegen, identical definitions in DuckDB — full oracle rows), CUSUM is
one cumulative window over an already-aggregated series, normalization is
one percent_rank window per group.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window


def group_trend(
    df: DataFrame,
    group_cols: str | Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group OLS line y = slope*x + intercept with fit quality: one
    hash aggregate emitting (n, slope, intercept, r2) per group via the
    SQL-standard regr_* aggregates — map-side partial, single shuffle,
    no per-group numpy. Groups where x never varies return null slope
    (regr_* semantics in both engines)."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    y = F.col(y_col).cast("double")
    x = F.col(x_col).cast("double")
    return df.groupBy(*groups).agg(
        F.regr_count(y, x).alias("n_points"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


def cusum_scan(
    series: DataFrame,
    group_cols: str | Sequence[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """CUSUM change-point scan per group over an ORDERED series (one row
    per (group, step) — aggregate raw data to that grain first): cumulative
    sum of deviations from the group mean, reporting the step where
    |CUSUM| peaks and the normalized peak height
    ``peak / (sd * sqrt(n))`` (>~1.36 rejects 'no change' at 5% by the
    Kolmogorov-Smirnov critical value — the standard CUSUM calibration).

    Scale shape: group mean/sd is one agg; the running sum is one window
    over the aggregated series (series length per group, not raw rows);
    the argmax election is the same WindowGroupLimit rank the samplers
    use. Nothing touches raw events after the first aggregate."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    stats = series.groupBy(*groups).agg(
        F.avg(value_col).alias("_mu"),
        F.stddev_pop(value_col).alias("_sd"),
        F.count(F.lit(1)).alias("n_steps"),
    )
    w = (
        Window.partitionBy(*groups)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        series.join(stats, on=groups)
        .withColumn("_cusum", F.sum(F.col(value_col) - F.col("_mu")).over(w))
    )
    pick = Window.partitionBy(*groups).orderBy(
        F.desc(F.abs(F.col("_cusum"))), F.asc(order_col)
    )
    return (
        cum.withColumn("_rk", F.row_number().over(pick))
        .filter(F.col("_rk") == 1)
        .select(
            *groups,
            F.col(order_col).alias("change_point"),
            "n_steps",
            F.round(F.abs(F.col("_cusum")), 6).alias("cusum_peak"),
            F.round(
                F.abs(F.col("_cusum"))
                / (F.col("_sd") * F.sqrt(F.col("n_steps").cast("double"))),
                6,
            ).alias("cusum_stat"),
        )
    )


def robust_outlier_stats(
    df: DataFrame,
    group_cols: str | Sequence[str],
    value_col: str,
    k: float = 3.5,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group robust outlier profile via the median/MAD modified
    z-score (Iglewicz-Hoaglin): ``0.6745 * |x - median| / MAD > k`` flags a
    row. Unlike mean/stddev rules the thresholds themselves are immune to
    the outliers being hunted — the standard first-pass anomaly screen on a
    metric column.

    Returns one row per group: n_rows, median, mad, n_outliers,
    outlier_rate, max_mz.

    Scale shape: two percentile aggregates (median, then MAD over
    deviations) + one map-side join-back against the tiny per-group stats
    dim — no window over raw rows. ``exact=True`` uses the exact
    interpolated percentile (buffers each group's column — fine to ~10M
    rows/group, and required for cross-engine oracle parity);
    ``exact=False`` switches both passes to approx_percentile(accuracy)
    for the 100 TB path, where groups are corpus-sized. The median is
    rounded to 6 dp BEFORE deviations are formed and the modified z is
    rounded to 6 dp before the threshold test, so both engines classify
    identical inputs. Groups with MAD = 0 (over half the mass on one
    value) drop out rather than dividing by zero."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    v = F.col(value_col).cast("double")

    def _p50(c):
        if exact:
            return F.expr(f"percentile({c}, 0.5)")
        return F.expr(f"approx_percentile({c}, 0.5, {int(accuracy)})")

    med = df.groupBy(*groups).agg(F.round(_p50(value_col), 6).alias("_med"))
    dev = df.join(F.broadcast(med), on=groups).withColumn(
        "_adev", F.abs(v - F.col("_med"))
    )
    mad = dev.groupBy(*groups).agg(
        F.round(_p50("_adev"), 6).alias("_mad"),
        F.min("_med").alias("_med2"),
    )
    z = dev.drop("_med").join(F.broadcast(mad), on=groups).withColumn(
        "_mz", F.round(F.lit(0.6745) * F.col("_adev") / F.col("_mad"), 6)
    )
    return (
        z.filter(F.col("_mad") > 0)
        .groupBy(*groups)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("_med2").alias("median"),
            F.min("_mad").alias("mad"),
            F.sum(F.when(F.col("_mz") > k, 1).otherwise(0)).alias("n_outliers"),
            F.round(
                F.sum(F.when(F.col("_mz") > k, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("outlier_rate"),
            F.max("_mz").alias("max_mz"),
        )
    )


def acf_by_group(
    series: DataFrame,
    group_cols: str | Sequence[str],
    order_col: str,
    value_col: str,
    max_lag: int = 3,
) -> DataFrame:
    """Autocorrelation function per group over an ORDERED series (one row
    per (group, step) — aggregate to that grain first): Pearson corr
    between the series and its lag-k shift for k = 1..max_lag. The
    seasonality/memory probe that tells a monitoring layer whether
    yesterday predicts today.

    Each lag is one window-lag + one corr aggregate over the ALREADY
    aggregated series (series length per group, not raw rows); the
    max_lag branches union, so persist the input series when it is not a
    trivial scan. corr here is the sample correlation over the (x_t,
    x_{t-k}) pairs — the 'statistical' ACF estimator, matching SQL corr
    in both engines; results round to 6 dp."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    w = Window.partitionBy(*groups).orderBy(order_col)
    parts = []
    for lag in range(1, max_lag + 1):
        lagged = series.withColumn("_vlag", F.lag(value_col, lag).over(w))
        parts.append(
            lagged.filter(F.col("_vlag").isNotNull())
            .groupBy(*groups)
            .agg(
                F.lit(lag).alias("lag"),
                F.count(F.lit(1)).alias("n_pairs"),
                F.round(F.corr(value_col, "_vlag"), 6).alias("acf"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def quantile_normalize(
    df: DataFrame,
    group_cols: str | Sequence[str],
    value_col: str,
    out_col: str = "pct_rank",
) -> DataFrame:
    """Rank-based score normalization within each group: percent_rank of
    ``value_col`` (0 = group min, 1 = group max), making scores comparable
    across groups with different scales — the standard cross-source
    calibration before a global quality threshold. One window per group;
    at 100 TB partition the window by the group (sources are few and large,
    so per-group sort is the cost — acceptable for score columns; for
    full-corpus normalization prefer the binned-quantile sketch in
    operators/sketches.py)."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    w = Window.partitionBy(*groups).orderBy(value_col)
    return df.withColumn(out_col, F.round(F.percent_rank().over(w), 6))


def _pooled_pair_ecdfs(
    df: DataFrame, group_col: str, value_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared scaffolding for the two-sample ECDF statistics
    (:func:`ks_test_pairs`, :func:`wasserstein_pairs`): per-group ECDFs at
    the DISTINCT-value grain, then for every unordered group pair the
    pooled jump points with BOTH ECDFs right-evaluated (forward-filled)
    at each point. Returns (pairs, at_v) where pairs is
    (ga, gb, n_a, n_b) and at_v is (ga, gb, v, fa, fb) — one row per
    pooled distinct value per pair.

    Scale shape: ECDFs are computed once per group at the distinct-value
    grain (group-keyed window over aggregated value counts, never raw
    rows); the pair sweep unions the two ECDFs per pair and forward-fills
    both sides with one (pair)-keyed window — work is
    pairs x distinct-values, independent of row count."""
    vals = df.select(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
    counts = vals.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    sizes = counts.groupBy("g").agg(F.sum("c").alias("n"))
    wcum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ecdf = (
        counts.withColumn("cum", F.sum("c").over(wcum))
        .join(sizes, on="g")
        .select("g", "v", (F.col("cum") / F.col("n")).alias("f"), "n")
    )
    pairs = (
        sizes.alias("pa")
        .join(sizes.alias("pb"), F.col("pa.g") < F.col("pb.g"))
        .select(
            F.col("pa.g").alias("ga"),
            F.col("pb.g").alias("gb"),
            F.col("pa.n").alias("n_a"),
            F.col("pb.n").alias("n_b"),
        )
    )
    side_a = pairs.join(ecdf.alias("e"), F.col("e.g") == F.col("ga")).select(
        "ga", "gb", F.col("e.v").alias("v"), F.col("e.f").alias("fa"),
        F.lit(None).cast("double").alias("fb"),
    )
    side_b = pairs.join(ecdf.alias("e"), F.col("e.g") == F.col("gb")).select(
        "ga", "gb", F.col("e.v").alias("v"),
        F.lit(None).cast("double").alias("fa"), F.col("e.f").alias("fb"),
    )
    both = side_a.unionByName(side_b)
    wff = (
        Window.partitionBy("ga", "gb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = both.select(
        "ga",
        "gb",
        "v",
        F.coalesce(F.last("fa", ignorenulls=True).over(wff), F.lit(0.0)).alias(
            "fa"
        ),
        F.coalesce(F.last("fb", ignorenulls=True).over(wff), F.lit(0.0)).alias(
            "fb"
        ),
    )
    # collapse duplicate pooled points (a value present in BOTH groups emits
    # two rows; only the fully-updated one is a legal evaluation point)
    at_v = filled.groupBy("ga", "gb", "v").agg(
        F.max("fa").alias("fa"), F.max("fb").alias("fb")
    )
    return pairs, at_v


def ks_test_pairs(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D for every unordered group pair:
    D = sup_x |F_a(x) - F_b(x)| over the pooled sample points, ECDFs
    right-evaluated (the sup of two step functions is attained at a pooled
    jump point, so maxing the right-evaluations at every pooled value is
    exact). The nonparametric any-difference test between groups.

    Output: (group_a, group_b, n_a, n_b, ks_d).

    Scale shape: see :func:`_pooled_pair_ecdfs` — work is
    pairs x distinct-values, independent of row count."""
    pairs, at_v = _pooled_pair_ecdfs(df, group_col, value_col)
    d = at_v.groupBy("ga", "gb").agg(
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_d")
    )
    return (
        d.join(pairs, on=["ga", "gb"])
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            "n_a",
            "n_b",
            "ks_d",
        )
    )


def wasserstein_pairs(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """1D Wasserstein-1 (earth mover's) distance for every unordered
    group pair: W1 = ∫|F_a(x) - F_b(x)| dx, computed exactly as the sum
    over consecutive POOLED distinct values of
    (v_next − v)·|F_a(v) − F_b(v)| — both ECDFs are step functions, so
    the integrand is constant between pooled jump points and the sum is
    the integral, no binning, no approximation.

    Where KS (sup gap, scale-free) answers "are these different?", W1
    answers "by HOW MUCH, in the metric's own units" — the mass-transport
    cost that drift dashboards want next to PSI (which needs bins and
    dies on support shifts) and KS (which saturates once supports
    separate). W1 keeps growing linearly as distributions move apart.

    Output: (group_a, group_b, n_a, n_b, w1), 6dp.

    Scale shape: identical to :func:`ks_test_pairs` — per-group ECDFs at
    distinct-value grain, one pair-keyed forward-fill window, then one
    lead() and a sum over pooled points; work is pairs x distinct-values,
    independent of row count."""
    pairs, at_v = _pooled_pair_ecdfs(df, group_col, value_col)
    wlead = Window.partitionBy("ga", "gb").orderBy("v")
    seg = at_v.withColumn("_v_next", F.lead("v").over(wlead))
    contrib = (F.col("_v_next") - F.col("v")) * F.abs(
        F.col("fa") - F.col("fb")
    )
    d = seg.groupBy("ga", "gb").agg(
        F.round(F.sum(contrib), 6).alias("w1")
    )
    return (
        d.join(pairs, on=["ga", "gb"])
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            "n_a",
            "n_b",
            "w1",
        )
    )


def theil_sen_trend(
    series: DataFrame,
    group_cols: str | Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Theil-Sen robust trend over an AGGREGATED series (one
    row per (group, x) — reduce raw data to that grain first): slope =
    median of all pairwise slopes (y_j - y_i)/(x_j - x_i), intercept =
    median(y - slope*x). Breakdown point ~29% — one corrupted day cannot
    drag the line the way it drags group_trend's OLS fit.

    Output: (group, n_points, n_pairs, slope, intercept), 6dp.

    Scale shape: the pair self-join is SERIES x SERIES within each group
    (days^2, not rows^2 — e.g. a year of daily points is ~66k pairs); the
    medians run at that same grain with exact interpolating percentiles.
    Raw facts never enter the join. For multi-year series at minute grain
    pre-bucket x or fall back to group_trend."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    pts = series.select(
        *groups,
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    a, b = pts.alias("a"), pts.alias("b")
    cond = [F.col(f"a.{g}") == F.col(f"b.{g}") for g in groups] + [
        F.col("a.x") < F.col("b.x")
    ]
    slopes = a.join(b, on=cond).select(
        *[F.col(f"a.{g}").alias(g) for g in groups],
        (
            (F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))
        ).alias("slope"),
    )
    m = slopes.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile("slope", F.lit(0.5)).alias("_m"),
    )
    resid = pts.join(F.broadcast(m), on=groups).groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.percentile(
            F.col("y") - F.col("_m") * F.col("x"), F.lit(0.5)
        ).alias("_b"),
        F.first("n_pairs").alias("n_pairs"),
        F.first("_m").alias("_slope"),
    )
    return resid.select(
        *groups,
        "n_points",
        "n_pairs",
        F.round(F.col("_slope"), 6).alias("slope"),
        F.round(F.col("_b"), 6).alias("intercept"),
    )


def seasonal_profile(
    df: DataFrame,
    ts_col: str,
    value_col: str | None = None,
) -> DataFrame:
    """Day-of-week x hour-of-day seasonal profile: per cell the event
    count, its share of all events, the count index (cell count / mean
    cell count — >1 is a hot hour), and when ``value_col`` is given the
    cell mean and its index vs the overall mean. The load-shape table a
    monitoring layer divides out before alerting on raw counts (Monday
    9am is always a spike; the anomaly is a spike that ISN'T one).

    Output: one row per observed (dow 1=Sunday..7, hour) cell, indices
    and means 6dp.

    Scale shape: one map-side-combined aggregate to a <=168-cell grid;
    the totals join is a broadcast of one row. The fact is touched
    once."""
    cell = df.select(
        F.dayofweek(ts_col).alias("dow"),
        F.hour(ts_col).alias("hour"),
        (
            F.col(value_col).cast("double") if value_col else F.lit(0.0)
        ).alias("val"),
    )
    per = cell.groupBy("dow", "hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("val").alias("_sv"),
    )
    tot = per.agg(
        F.sum("n_events").alias("_n"),
        F.count(F.lit(1)).alias("_cells"),
        F.sum("_sv").alias("_sva"),
    )
    out = per.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hour",
        "n_events",
        F.round(F.col("n_events") / F.col("_n"), 6).alias("share"),
        F.round(
            F.col("n_events") * F.col("_cells") / F.col("_n").cast("double"),
            6,
        ).alias("count_index"),
        F.round(F.col("_sv") / F.col("n_events"), 6).alias("value_mean"),
        F.round(
            (F.col("_sv") / F.col("n_events"))
            / (F.col("_sva") / F.col("_n")),
            6,
        ).alias("value_index"),
    )
    if value_col is None:
        out = out.drop("value_mean", "value_index")
    return out


def seasonal_anomaly_scan(
    df: DataFrame,
    ts_col: str,
    top_n: int = 20,
) -> DataFrame:
    """Seasonally-adjusted volume anomaly scan: hourly event counts
    compared against the day-of-week x hour-of-day baseline (cell total /
    number of dates sharing that weekday in the data), flagging the
    ``top_n`` largest |ln(observed / expected)| deviations. The composed
    monitoring workflow seasonal_profile enables: a Monday-9am spike is
    baseline; the anomaly is a spike the weekly shape does not predict.

    Output: top_n rows — (d, hour, n_events, expected 6dp,
    log_ratio 6dp), ordered by |log_ratio| desc then (d, hour). Only
    observed (date, hour) cells are scanned (an hour with zero events is
    a gap-fill concern, not a spike).

    Scale shape: one aggregate to the (date, hour) grain, the baseline
    re-aggregated from it (dow x 24 grid, broadcast back), the weekday
    calendar from the distinct-dates dim; the election is
    TakeOrderedAndProject, never a global sort. The fact is touched
    once."""
    hourly = df.select(
        F.to_date(ts_col).alias("d"), F.hour(ts_col).alias("hour")
    ).groupBy("d", "hour").agg(F.count(F.lit(1)).alias("n_events"))
    dates = hourly.select("d").distinct().select(
        "d", F.dayofweek("d").alias("dow")
    )
    dow_days = dates.groupBy("dow").agg(F.count(F.lit(1)).alias("n_days"))
    base = (
        hourly.join(F.broadcast(dates), on="d")
        .groupBy("dow", "hour")
        .agg(F.sum("n_events").alias("cell_total"))
        .join(F.broadcast(dow_days), on="dow")
        .select(
            "dow",
            "hour",
            (F.col("cell_total") / F.col("n_days").cast("double")).alias(
                "_exp"
            ),
        )
    )
    scored = (
        hourly.join(F.broadcast(dates), on="d")
        .join(F.broadcast(base), on=["dow", "hour"])
        .select(
            "d",
            "hour",
            "n_events",
            F.round(F.col("_exp"), 6).alias("expected"),
            F.round(F.log(F.col("n_events") / F.col("_exp")), 6).alias(
                "log_ratio"
            ),
        )
    )
    return scored.orderBy(
        F.desc(F.abs(F.col("log_ratio"))), F.asc("d"), F.asc("hour")
    ).limit(int(top_n))


def trimmed_mean(
    df: DataFrame,
    group_cols: str | Sequence[str],
    value_col: str,
    frac: float = 0.05,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group trimmed mean: drop values OUTSIDE the [frac, 1-frac]
    percentile band, average the rest — winsorize's discarding sibling
    (winsorize clamps the tails; trimming excludes them). The robust
    central-tendency everyone reaches for when means are outlier-dragged
    but medians throw away too much.

    Output: (group, n_rows, n_kept, lo_cut, hi_cut, trimmed_mean), cuts
    rounded 6dp BEFORE the band test so both engines keep identical rows.

    Scale shape: one percentile aggregate for the cuts (exact
    interpolating form for oracle parity; ``exact=False`` flips to
    approx_percentile for corpus-scale groups, same knob as
    robust_outlier_stats), broadcast join-back, one filtered re-agg. Two
    passes over the fact, no window."""
    if not 0 < frac < 0.5:
        raise ValueError("frac must be in (0, 0.5)")
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    v = F.col(value_col).cast("double")

    def _p(c, q):
        if exact:
            return F.expr(f"percentile({c}, {q!r})")
        return F.expr(f"approx_percentile({c}, {q!r}, {int(accuracy)})")

    cuts = df.groupBy(*groups).agg(
        F.round(_p(value_col, frac), 6).alias("lo_cut"),
        F.round(_p(value_col, 1.0 - frac), 6).alias("hi_cut"),
    )
    joined = df.join(F.broadcast(cuts), on=groups)
    kept = (v >= F.col("lo_cut")) & (v <= F.col("hi_cut"))
    return joined.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.min("lo_cut").alias("lo_cut"),
        F.min("hi_cut").alias("hi_cut"),
        F.round(
            F.sum(F.when(kept, v)) / F.sum(kept.cast("long")), 6
        ).alias("trimmed_mean"),
    )


def ewma_control_chart(
    series: DataFrame,
    group_cols: str | Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
    span: int = 14,
    k: float = 3.0,
) -> DataFrame:
    """EWMA control chart per group over an AGGREGATED, integer-indexed
    series (one row per (group, step) at consecutive steps): the
    exponentially-weighted moving average over the trailing ``span``
    steps (weights (1-α)^j, renormalized over the steps actually present
    so the series head is unbiased), charted against the group center
    line ± k·σ·sqrt(α/(2-α)) (the steady-state EWMA sigma). The SPC
    memory-smoothed drift detector between point-wise MAD flags (noisy)
    and CUSUM (offline, whole-series): an EWMA excursion fires on small
    sustained shifts a 3σ point rule misses.

    Output: one row per (group, step) — (group, step, value, ewma,
    center, lcl, ucl, out_of_control), 6dp; the flag compares the
    ROUNDED ewma against the ROUNDED limits so both engines decide
    identically.

    Scale shape: the lag fan-out joins the series to itself through a
    broadcast span-row offsets dim — work is steps x span at the SERIES
    grain; group stats are one aggregate; nothing touches raw facts."""
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    spark = series.sparkSession
    pts = series.select(
        *groups,
        F.col(order_col).cast("long").alias("t"),
        F.col(value_col).cast("double").alias("x"),
    )
    offs = spark.range(int(span)).select(
        F.col("id").cast("int").alias("j"),
        F.pow(F.lit(1.0 - alpha), F.col("id")).alias("w"),
    )
    lagged = pts.crossJoin(F.broadcast(offs)).join(
        pts.select(
            *[F.col(g).alias(f"_g_{g}") for g in groups],
            F.col("t").alias("_tj"),
            F.col("x").alias("_xj"),
        ),
        on=[F.col(f"_g_{g}") == F.col(g) for g in groups]
        + [F.col("_tj") == F.col("t") - F.col("j")],
    )
    ew = lagged.groupBy(*groups, "t").agg(
        F.first("x").alias("value"),
        F.round(
            F.sum(F.col("_xj") * F.col("w")) / F.sum("w"), 6
        ).alias("ewma"),
    )
    stats = pts.groupBy(*groups).agg(
        F.round(F.avg("x"), 6).alias("center"),
        F.round(F.stddev_pop("x"), 6).alias("_sd"),
    )
    sig = math.sqrt(alpha / (2.0 - alpha))
    out = ew.join(F.broadcast(stats), on=groups).select(
        *groups,
        F.col("t").alias("step"),
        "value",
        "ewma",
        "center",
        F.round(
            F.col("center") - k * F.col("_sd") * F.lit(sig), 6
        ).alias("lcl"),
        F.round(
            F.col("center") + k * F.col("_sd") * F.lit(sig), 6
        ).alias("ucl"),
    )
    return out.withColumn(
        "out_of_control",
        ((F.col("ewma") < F.col("lcl")) | (F.col("ewma") > F.col("ucl"))).cast(
            "int"
        ),
    )


def psi_drift(
    df: DataFrame,
    value_col: str,
    ref_filter: Column,
    n_bins: int = 10,
    min_frac: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference slice (rows matching
    ``ref_filter``) and the rest — the scorecard-monitoring drift metric:
    bin the value into ``n_bins`` equal-width bins over the REFERENCE
    min/max (frozen-bin convention; out-of-range current values clamp into
    the edge bins), then

        PSI = Σ_b (cur_frac_b − ref_frac_b) · ln(cur_frac_b / ref_frac_b)

    with both fractions rounded to 6dp and floored at ``min_frac`` BEFORE
    the log so both engines fold identical numbers (the calibration-curve
    precedent) and empty bins contribute finitely. Rule of thumb:
    < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 action. Complements the
    distribution tests (ks_test_pairs: sensitivity; psi: a bounded,
    binned, monitoring-friendly magnitude).

    Output: one row per bin — (bin, ref_frac, cur_frac, psi) with the
    scalar repeated, ordered by bin.

    Scale shape: one agg for the reference bounds (1-row broadcast join
    back — no second scan barrier beyond it), one map-side-combined
    groupBy to ≤ n_bins rows, then windows/folds only over the bin table.
    The frozen-reference form for production: persist (lo, hi, ref_frac)
    once and the monitor becomes a pure map + tiny agg per batch
    (streaming/drift.py is the streaming twin)."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    v = F.col(value_col).cast("double")
    t = df.select(
        v.alias("v"),
        F.when(ref_filter, F.lit(1)).otherwise(F.lit(0)).alias("is_ref"),
    )
    bounds = t.filter(F.col("is_ref") == 1).agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    binned = t.crossJoin(F.broadcast(bounds)).select(
        "is_ref",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.greatest(
                    F.floor(
                        (F.col("v") - F.col("lo"))
                        * n_bins
                        / (F.col("hi") - F.col("lo"))
                    ).cast("int"),
                    F.lit(0),
                ),
                F.lit(int(n_bins) - 1),
            )
        )
        .alias("bin"),
    )
    per = binned.groupBy("bin").agg(
        F.sum("is_ref").alias("_rn"),
        F.sum(1 - F.col("is_ref")).alias("_cn"),
    )
    tot = per.agg(F.sum("_rn").alias("_rt"), F.sum("_cn").alias("_ct"))
    fr = per.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.greatest(
            # try_divide: an empty side yields NULL→min_frac, not an ANSI
            # divide-by-zero crash.
            F.round(F.try_divide(F.col("_rn"), F.col("_rt")), 6),
            F.lit(float(min_frac)),
        ).alias("ref_frac"),
        F.greatest(
            F.round(F.try_divide(F.col("_cn"), F.col("_ct")), 6),
            F.lit(float(min_frac)),
        ).alias("cur_frac"),
    )
    psi = fr.agg(
        F.round(
            F.sum(
                (F.col("cur_frac") - F.col("ref_frac"))
                * F.log(F.col("cur_frac") / F.col("ref_frac"))
            ),
            6,
        ).alias("psi")
    )
    return fr.crossJoin(F.broadcast(psi)).select(
        "bin", "ref_frac", "cur_frac", "psi"
    )


def mann_kendall_trend(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Mann-Kendall monotone-trend test per group over an already-
    aggregated time series (one row per (group, time)): the
    nonparametric S statistic

        S = Σ_{i<j} sign(x_j − x_i),

    its tie-corrected variance Var(S) = [n(n−1)(2n+5) −
    Σ_t t(t−1)(2t+5)] / 18, and the continuity-corrected normal score
    z = (S∓1)/√Var(S). The distribution-free companion to the
    Theil-Sen slope (`theil_sen_trend`): Theil-Sen answers "how steep",
    MK answers "is the monotone trend real" without normality or
    linearity assumptions — the standard pairing for drift monitoring.

    Determinism: S and the tie term are exact integers from sign
    comparisons; Var and z are then single-expression double math (and
    IEEE sqrt is correctly rounded), so there is no summation-order
    exposure. Singleton groups (one (group, time) point → no pairs) are
    reported with s=0, var_s=0, z=0 rather than dropped. Returns
    (group, n_points, s_stat, var_s, z), 6dp.

    Scale shape: the pairwise self-join runs on the AGGREGATED
    (group, time) grain — for daily series that is days²/2 fixed-width
    rows per group, never raw events; tie counts are one more pass on
    the same grain. Aggregate the fact table to the series grain
    upstream (one map-side-combining pass)."""
    g = F.col(group_col)
    base = df.select(
        g.alias("g"),
        F.col(time_col).alias("t"),
        F.col(value_col).cast("double").alias("x"),
    )
    a = base.select("g", F.col("t").alias("ti"), F.col("x").alias("xi"))
    b = base.select("g", F.col("t").alias("tj"), F.col("x").alias("xj"))
    s = (
        a.join(b, on="g")
        .filter(F.col("ti") < F.col("tj"))
        .groupBy("g")
        .agg(
            F.sum(F.signum(F.col("xj") - F.col("xi")))
            .cast("long")
            .alias("s_stat")
        )
    )
    n = base.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        base.groupBy("g", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("tp"))
        .filter(F.col("tp") > 1)
        .groupBy("g")
        .agg(
            F.sum(
                F.col("tp") * (F.col("tp") - 1) * (2 * F.col("tp") + 5)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    # LEFT join `s`: a singleton group (one (group, time) point) yields
    # no i<j pairs, so an inner join would silently drop it; report it
    # with s=0, var_s=0, z=0 instead (z's s_stat=0 branch already
    # handles the 0/0 case).
    joined = (
        n.join(s, on="g", how="left")
        .withColumn("s_stat", F.coalesce("s_stat", F.lit(0)))
        .join(ties, on="g", how="left")
        .withColumn("tie_term", F.coalesce("tie_term", F.lit(0)))
    )
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ) / F.lit(18.0)
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return joined.select(
        F.col("g").alias(group_col),
        F.col("n").alias("n_points"),
        "s_stat",
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
    )


def spearman_by_group(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """Spearman rank correlation per group — the monotone-association
    rung between Pearson (correlation_diag: linear only) and
    Mann–Kendall (trend test, no effect size): rank both columns with
    AVERAGE ranks for ties, then Pearson on the ranks.

    Exactness trick: the average rank (r_min + (t−1)/2) is a multiple
    of ½, so DOUBLED ranks are exact integers computed directly from
    the rank window (2·r_min + t − 1) — no float ever enters the rank
    grain, and all five Pearson sums are exact integer aggregates
    (DECIMAL(38,0): Σ(2r)² ≤ 4n³ outgrows int64 past ~1.3M rows per
    group). The scale factor cancels in ρ. The final ρ arithmetic is
    double over the five sums in one fixed association, mirrored by the
    oracle.

    Scale shape: two rank windows (one per column, partitioned by the
    group — the per-group sort is the one shuffle) and one map-side-
    combined aggregate. Returns (by..., n, rho) 6dp; ρ NULL for groups
    with no rank variance (all-tied column)."""
    gb = [F.col(c) for c in by]
    w_x = Window.partitionBy(*gb).orderBy(F.col(x_col))
    w_y = Window.partitionBy(*gb).orderBy(F.col(y_col))
    w_tx = Window.partitionBy(*gb, F.col(x_col))
    w_ty = Window.partitionBy(*gb, F.col(y_col))
    ranked = df.select(
        *gb,
        (
            F.lit(2) * F.rank().over(w_x)
            + F.count(F.lit(1)).over(w_tx)
            - F.lit(1)
        ).cast("long").alias("rx"),
        (
            F.lit(2) * F.rank().over(w_y)
            + F.count(F.lit(1)).over(w_ty)
            - F.lit(1)
        ).cast("long").alias("ry"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = ranked.groupBy(*gb).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("rx"))).alias("sx"),
        F.sum(dec(F.col("ry"))).alias("sy"),
        F.sum(dec(F.col("rx") * F.col("rx"))).alias("sxx"),
        F.sum(dec(F.col("ry") * F.col("ry"))).alias("syy"),
        F.sum(dec(F.col("rx") * F.col("ry"))).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    varx = nd * sxx - sx * sx
    vary = nd * syy - sy * sy
    rho = F.when(
        (varx > 0) & (vary > 0),
        (nd * sxy - sx * sy) / F.sqrt(varx * vary),
    )
    return agg.select(
        *[F.col(c) for c in by], "n", F.round(rho, 6).alias("rho")
    ).orderBy(*[F.col(c) for c in by]) if by else agg.select(
        "n", F.round(rho, 6).alias("rho")
    )


def hill_tail_index(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    k: int = 50,
) -> DataFrame:
    """Hill estimator of the power-law tail index per group — the
    heavy-tail diagnostic that tells a 100 TB planner WHICH columns
    need skew handling: α̂ ≈ 1–2 means Zipf-like mass concentration
    (salting / AQE skew joins mandatory), α̂ > 3 means moments exist
    and uniform hash partitioning is safe. Companion to
    key_skew_report (which measures the realized skew of one key):
    Hill measures the distributional law generating it.

    α̂ = k / Σ_{i=1..k} ln(x_(i) / x_(k+1)) over the k largest values
    per group, with x_(k+1) the (k+1)-th order statistic. Each log
    ratio is micro-quantized (round(1e6·ln(x/x_{k+1}))) and summed as
    an exact integer so the k-term double summation order cannot
    diverge between engines; the ratio is divided FIRST so both
    engines feed ln the identical double.

    Scale shape: the per-group top-(k+1) is a rank window over groups
    (the one per-group sort); at real scale a pre-filter on an
    approximate quantile keeps the sorted set tiny — the selection is
    TakeOrdered-class work, never a global sort. k is a config
    constant, so the term grain is (groups × k) — driver-free."""
    w = Window.partitionBy(group_col).orderBy(
        F.col("x").desc(), F.col(id_col).asc()
    )
    # groups×(k+1) rows read by both the threshold agg and the term
    # build — eagerly truncate so the scan + rank window run once.
    top = (
        df.where(F.col(value_col) > 0)
        .select(
            group_col,
            F.col(value_col).cast("double").alias("x"),
            F.col(id_col),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k + 1)
        .localCheckpoint(eager=True)
    )
    thr = top.groupBy(group_col).agg(
        F.min("x").alias("thr"),
        F.count(F.lit(1)).cast("long").alias("n_top"),
    )
    terms = (
        top.join(thr, on=group_col)
        .where((F.col("rn") <= k) & (F.col("n_top") == k + 1))
        .select(
            group_col,
            F.round(F.log(F.col("x") / F.col("thr")) * 1e6, 0)
            .cast("decimal(38,0)")
            .alias("t"),
        )
    )
    out = terms.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("t").alias("tsum"),
    )
    alpha = F.when(
        F.col("tsum") > 0,
        F.col("k").cast("double")
        / (F.col("tsum").cast("double") / F.lit(1e6)),
    )
    return (
        out.join(thr.select(group_col, "thr"), on=group_col)
        .select(
            group_col,
            "k",
            F.round(F.col("thr"), 6).alias("x_k1"),
            F.round(alpha, 6).alias("alpha"),
        )
        .orderBy(group_col)
    )
