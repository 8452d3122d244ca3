"""Series-statistics queries: per-group OLS trends (SQL-standard regr_*
aggregates), CUSUM change-point scans, cross-source rank normalization, and
the descriptive distribution and daily-series statistics over ``events``.
All full DuckDB-oracle rows — both engines implement regr_slope/intercept/r2
and percent_rank with identical definitions."""

from __future__ import annotations

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.registry import register
from ningaloo_turtle_etl_spark.sources.tables import load_table


def _daily_series(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.to_unix_timestamp("ts") / 86400).alias("day"),
        )
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )


_DAILY_SQL = """
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             round(AVG(value), 6) AS v
      FROM events GROUP BY 1, 2
"""


@register(
    "daily_trend_by_type",
    f"""
    WITH d AS ({_DAILY_SQL})
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(regr_slope(v, day), 6) AS slope,
           ROUND(regr_intercept(v, day), 6) AS intercept,
           ROUND(regr_r2(v, day), 6) AS r2
    FROM d GROUP BY event_type
    ORDER BY event_type
    """,
)
def daily_trend_by_type(spark, sf_dir):
    """OLS trend of the daily mean value per event type
    (`operators/trend.py group_trend`): is the metric drifting, and how
    well does a line explain it? Two hash aggregates (daily grain, then
    regr_* per group) — both map-side partial, no window, no numpy. The
    daily means are rounded to 6 dp BEFORE the regression in both engines
    so the fit inputs are bit-identical."""
    from ningaloo_turtle_etl_spark.operators.trend import group_trend

    return group_trend(_daily_series(spark, sf_dir), "event_type", "day", "v")


@register(
    "value_change_points",
    f"""
    WITH d AS ({_DAILY_SQL}),
    s AS (
      SELECT event_type, AVG(v) AS mu, stddev_pop(v) AS sd,
             CAST(COUNT(*) AS BIGINT) AS n_steps
      FROM d GROUP BY 1
    ),
    c AS (
      SELECT d.event_type, d.day, s.n_steps, s.sd,
             SUM(d.v - s.mu) OVER (PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      FROM d JOIN s USING (event_type)
    ),
    r AS (
      SELECT event_type, day, n_steps, cusum, sd,
             row_number() OVER (PARTITION BY event_type
               ORDER BY abs(cusum) DESC, day ASC) AS rk
      FROM c
    )
    SELECT event_type, day AS change_point, n_steps,
           ROUND(abs(cusum), 6) AS cusum_peak,
           ROUND(abs(cusum) / (sd * sqrt(n_steps)), 6) AS cusum_stat
    FROM r WHERE rk = 1
    ORDER BY event_type
    """,
)
def value_change_points(spark, sf_dir):
    """CUSUM change-point scan over each event type's daily mean series
    (`operators/trend.py cusum_scan`): the day where the cumulative
    deviation from the series mean peaks, with the KS-normalized peak
    height. The scan runs entirely on the aggregated daily grain."""
    from ningaloo_turtle_etl_spark.operators.trend import cusum_scan

    return cusum_scan(_daily_series(spark, sf_dir), "event_type", "day", "v")


@register(
    "source_quantile_norm",
    """
    SELECT doc_id, source, n_chars,
           ROUND(percent_rank() OVER (PARTITION BY source ORDER BY n_chars),
                 6) AS pct_rank
    FROM documents
    ORDER BY doc_id
    """,
)
def source_quantile_norm(spark, sf_dir):
    """Rank-normalize document length within each source
    (`operators/trend.py quantile_normalize`) — the cross-source score
    calibration that makes a single global threshold meaningful when
    sources have different length distributions."""
    from ningaloo_turtle_etl_spark.operators.trend import quantile_normalize

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "n_chars"
    )
    return quantile_normalize(docs, "source", "n_chars")


@register(
    "mad_outlier_stats",
    """
    WITH med AS (
      SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS _med
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, m._med, abs(e.value - m._med) AS _adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, ROUND(quantile_cont(_adev, 0.5), 6) AS _mad,
             MIN(_med) AS _med2
      FROM dev GROUP BY 1
    ),
    z AS (
      SELECT d.event_type, m._mad, m._med2,
             ROUND(0.6745 * d._adev / m._mad, 6) AS _mz
      FROM dev d JOIN mad m USING (event_type)
      WHERE m._mad > 0
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(_med2) AS median,
           MIN(_mad) AS mad,
           CAST(SUM(CASE WHEN _mz > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           ROUND(SUM(CASE WHEN _mz > 3.5 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS outlier_rate,
           MAX(_mz) AS max_mz
    FROM z GROUP BY event_type
    ORDER BY event_type
    """,
)
def mad_outlier_stats(spark, sf_dir):
    """Median/MAD modified-z outlier profile of event values per type
    (`operators/trend.py robust_outlier_stats`): the anomaly screen whose
    thresholds the anomalies themselves cannot drag. Two percentile
    aggregates + broadcast join-backs; the exact percentile is the oracle
    form, `exact=False` flips both passes to approx_percentile at
    corpus scale."""
    from ningaloo_turtle_etl_spark.operators.trend import robust_outlier_stats

    ev = load_table(spark, "events", sf_dir)
    return robust_outlier_stats(ev, "event_type", "value", k=3.5)


@register(
    "daily_value_acf",
    f"""
    WITH d AS ({_DAILY_SQL}),
    l AS (
      SELECT event_type, v,
             lag(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS v1,
             lag(v, 2) OVER (PARTITION BY event_type ORDER BY day) AS v2,
             lag(v, 3) OVER (PARTITION BY event_type ORDER BY day) AS v3
      FROM d
    )
    SELECT event_type, lag, n_pairs, acf FROM (
      SELECT event_type, 1 AS lag, CAST(COUNT(v1) AS BIGINT) AS n_pairs,
             ROUND(corr(v, v1), 6) AS acf
      FROM l WHERE v1 IS NOT NULL GROUP BY 1
      UNION ALL
      SELECT event_type, 2, CAST(COUNT(v2) AS BIGINT),
             ROUND(corr(v, v2), 6)
      FROM l WHERE v2 IS NOT NULL GROUP BY 1
      UNION ALL
      SELECT event_type, 3, CAST(COUNT(v3) AS BIGINT),
             ROUND(corr(v, v3), 6)
      FROM l WHERE v3 IS NOT NULL GROUP BY 1
    )
    ORDER BY event_type, lag
    """,
)
def daily_value_acf(spark, sf_dir):
    """Autocorrelation (lags 1-3) of each event type's daily mean value
    (`operators/trend.py acf_by_group`): does yesterday predict today —
    the seasonality/memory probe behind alert tuning. The lag windows run
    over the day-grain aggregate, never raw events."""
    from ningaloo_turtle_etl_spark.operators.trend import acf_by_group

    series = _daily_series(spark, sf_dir).persist()
    out = acf_by_group(series, "event_type", "day", "v", max_lag=3)
    return out.orderBy("event_type", "lag")


@register(
    "value_ks_by_type",
    """
    WITH vals AS (SELECT event_type AS g, value AS v FROM events),
    counts AS (SELECT g, v, COUNT(*) AS c FROM vals GROUP BY 1, 2),
    sizes AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1),
    ecdf AS (
        SELECT g, v,
               SUM(c) OVER (PARTITION BY g ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / CAST(n AS DOUBLE) AS f
        FROM counts JOIN sizes USING (g)
    ),
    pairs AS (
        SELECT a.g AS ga, b.g AS gb, a.n AS n_a, b.n AS n_b
        FROM sizes a JOIN sizes b ON a.g < b.g
    ),
    merged AS (
        SELECT ga, gb, e.v, e.f AS fa, CAST(NULL AS DOUBLE) AS fb
        FROM pairs JOIN ecdf e ON e.g = ga
        UNION ALL
        SELECT ga, gb, e.v, CAST(NULL AS DOUBLE), e.f
        FROM pairs JOIN ecdf e ON e.g = gb
    ),
    filled AS (
        SELECT ga, gb, v,
               COALESCE(LAST_VALUE(fa IGNORE NULLS) OVER (
                   PARTITION BY ga, gb ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
                   AS fa,
               COALESCE(LAST_VALUE(fb IGNORE NULLS) OVER (
                   PARTITION BY ga, gb ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
                   AS fb
        FROM merged
    ),
    at_v AS (
        SELECT ga, gb, v, MAX(fa) AS fa, MAX(fb) AS fb
        FROM filled GROUP BY 1, 2, 3
    ),
    d AS (
        SELECT ga, gb, ROUND(MAX(ABS(fa - fb)), 6) AS ks_d
        FROM at_v GROUP BY 1, 2
    )
    SELECT ga AS group_a, gb AS group_b, n_a, n_b, ks_d
    FROM d JOIN pairs USING (ga, gb)
    """,
)
def q_value_ks_by_type(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov D between every pair of event types'
    value distributions (`operators/trend.py ks_test_pairs`) — the
    nonparametric any-difference statistic. ECDFs at
    the distinct-value grain; the pair sweep forward-fills both step
    functions over the pooled points, so work is pairs x distinct values,
    never rows x rows."""
    from ningaloo_turtle_etl_spark.operators.trend import ks_test_pairs

    ev = load_table(spark, "events", sf_dir)
    return ks_test_pairs(ev, "event_type", "value")


@register(
    "wasserstein_value_by_type",
    """
    WITH vals AS (SELECT event_type AS g, value AS v FROM events),
    counts AS (SELECT g, v, COUNT(*) AS c FROM vals GROUP BY 1, 2),
    sizes AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1),
    ecdf AS (
        SELECT g, v,
               SUM(c) OVER (PARTITION BY g ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / CAST(n AS DOUBLE) AS f
        FROM counts JOIN sizes USING (g)
    ),
    pairs AS (
        SELECT a.g AS ga, b.g AS gb, a.n AS n_a, b.n AS n_b
        FROM sizes a JOIN sizes b ON a.g < b.g
    ),
    merged AS (
        SELECT ga, gb, e.v, e.f AS fa, CAST(NULL AS DOUBLE) AS fb
        FROM pairs JOIN ecdf e ON e.g = ga
        UNION ALL
        SELECT ga, gb, e.v, CAST(NULL AS DOUBLE), e.f
        FROM pairs JOIN ecdf e ON e.g = gb
    ),
    filled AS (
        SELECT ga, gb, v,
               COALESCE(LAST_VALUE(fa IGNORE NULLS) OVER (
                   PARTITION BY ga, gb ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
                   AS fa,
               COALESCE(LAST_VALUE(fb IGNORE NULLS) OVER (
                   PARTITION BY ga, gb ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
                   AS fb
        FROM merged
    ),
    at_v AS (
        SELECT ga, gb, v, MAX(fa) AS fa, MAX(fb) AS fb
        FROM filled GROUP BY 1, 2, 3
    ),
    seg AS (
        SELECT ga, gb, v, fa, fb,
               LEAD(v) OVER (PARTITION BY ga, gb ORDER BY v) AS v_next
        FROM at_v
    ),
    d AS (
        SELECT ga, gb, ROUND(SUM((v_next - v) * ABS(fa - fb)), 6) AS w1
        FROM seg WHERE v_next IS NOT NULL GROUP BY 1, 2
    )
    SELECT ga AS group_a, gb AS group_b, n_a, n_b, w1
    FROM d JOIN pairs USING (ga, gb)
    ORDER BY group_a, group_b
    """,
)
def q_wasserstein_value_by_type(spark, sf_dir):
    """Exact 1D earth-mover's distance between every pair of event types'
    value distributions (`operators/trend.py wasserstein_pairs`): the
    mass-transport cost in the metric's own units — the "by how much"
    companion to value_ks_by_type's "are they different", and the drift
    number that keeps growing after KS saturates and PSI's bins break on
    support shifts. Step-function integral over pooled distinct values;
    work is pairs x distinct values, never rows x rows."""
    from ningaloo_turtle_etl_spark.operators.trend import wasserstein_pairs

    ev = load_table(spark, "events", sf_dir)
    return wasserstein_pairs(ev, "event_type", "value").orderBy(
        "group_a", "group_b"
    )


@register(
    "theil_sen_daily_counts",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS DOUBLE) AS y
        FROM events GROUP BY 1, 2
    ),
    pts AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '2024-01-01', d) AS DOUBLE) AS x, y
        FROM daily
    ),
    sl AS (
        SELECT a.event_type AS event_type,
               (b.y - a.y) / (b.x - a.x) AS slope
        FROM pts a JOIN pts b
          ON a.event_type = b.event_type AND a.x < b.x
    ),
    m AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               quantile_cont(slope, 0.5) AS mid
        FROM sl GROUP BY 1
    )
    SELECT p.event_type AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           MIN(n_pairs) AS n_pairs,
           ROUND(MIN(mid), 6) AS slope,
           ROUND(quantile_cont(p.y - m.mid * p.x, 0.5), 6) AS intercept
    FROM pts p JOIN m USING (event_type) GROUP BY 1
    """,
)
def q_theil_sen_daily_counts(spark, sf_dir):
    """Theil-Sen robust slope of daily event volume per type
    (`operators/trend.py theil_sen_trend`): median of the days^2 pairwise
    slopes + median-residual intercept — the one-bad-day-proof twin of
    daily_trend_by_type's OLS fit."""
    from ningaloo_turtle_etl_spark.operators.trend import theil_sen_trend

    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    pts = daily.select(
        "event_type",
        F.datediff("d", F.lit("2024-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        "y",
    )
    return theil_sen_trend(pts, "event_type", "x", "y")


@register(
    "seasonal_profile_events",
    """
    WITH cell AS (
        SELECT dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
               hour(CAST(ts AS TIMESTAMP)) AS hour,
               CAST(value AS DOUBLE) AS val
        FROM events
    ),
    per AS (
        SELECT dow, hour, CAST(COUNT(*) AS BIGINT) AS n_events,
               SUM(val) AS sv
        FROM cell GROUP BY 1, 2
    ),
    tot AS (
        SELECT SUM(n_events) AS n, COUNT(*) AS cells, SUM(sv) AS sva
        FROM per
    )
    SELECT dow, hour, n_events,
           ROUND(n_events / CAST(n AS DOUBLE), 6) AS share,
           ROUND(n_events * cells / CAST(n AS DOUBLE), 6) AS count_index,
           ROUND(sv / n_events, 6) AS value_mean,
           ROUND((sv / n_events) / (sva / n), 6) AS value_index
    FROM per, tot
    """,
)
def q_seasonal_profile_events(spark, sf_dir):
    """Day-of-week x hour-of-day load shape of the event stream
    (`operators/trend.py seasonal_profile`): count share/index and mean
    value index per cell — the baseline a monitor divides out before
    calling a spike an anomaly."""
    from ningaloo_turtle_etl_spark.operators.trend import seasonal_profile

    ev = load_table(spark, "events", sf_dir)
    return seasonal_profile(ev, "ts", "value")


@register(
    "seasonal_anomalies",
    """
    WITH hourly AS (
        SELECT CAST(ts AS DATE) AS d, hour(CAST(ts AS TIMESTAMP)) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    dates AS (SELECT DISTINCT d, dayofweek(d) AS dow FROM hourly),
    dd AS (SELECT dow, COUNT(*) AS n_days FROM dates GROUP BY 1),
    base AS (
        SELECT t.dow, h.hour,
               SUM(h.n_events) / CAST(MIN(dd.n_days) AS DOUBLE) AS exp_raw
        FROM hourly h
        JOIN dates t USING (d)
        JOIN dd ON dd.dow = t.dow
        GROUP BY 1, 2
    )
    SELECT h.d AS d, h.hour AS hour, h.n_events,
           ROUND(b.exp_raw, 6) AS expected,
           ROUND(ln(h.n_events / b.exp_raw), 6) AS log_ratio
    FROM hourly h
    JOIN dates t USING (d)
    JOIN base b ON b.dow = t.dow AND b.hour = h.hour
    ORDER BY abs(ROUND(ln(h.n_events / b.exp_raw), 6)) DESC, h.d, h.hour
    LIMIT 20
    """,
)
def q_seasonal_anomalies(spark, sf_dir):
    """Top-20 seasonally-adjusted hourly volume anomalies
    (`operators/trend.py seasonal_anomaly_scan`): hourly counts vs the
    dow x hour weekly baseline, ranked by |ln(obs/exp)| — the spike
    detector that doesn't page on every Monday morning."""
    from ningaloo_turtle_etl_spark.operators.trend import (
        seasonal_anomaly_scan,
    )

    ev = load_table(spark, "events", sf_dir)
    return seasonal_anomaly_scan(ev, "ts", top_n=20)


@register(
    "trimmed_mean_by_type",
    """
    WITH cuts AS (
        SELECT event_type,
               ROUND(quantile_cont(value, 0.05), 6) AS lo_cut,
               ROUND(quantile_cont(value, 0.95), 6) AS hi_cut
        FROM events GROUP BY 1
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN value >= lo_cut AND value <= hi_cut
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           MIN(lo_cut) AS lo_cut,
           MIN(hi_cut) AS hi_cut,
           ROUND(SUM(CASE WHEN value >= lo_cut AND value <= hi_cut
                          THEN value END)
                 / SUM(CASE WHEN value >= lo_cut AND value <= hi_cut
                            THEN 1 ELSE 0 END), 6) AS trimmed_mean
    FROM events JOIN cuts USING (event_type)
    GROUP BY event_type
    """,
)
def q_trimmed_mean_by_type(spark, sf_dir):
    """5% two-sided trimmed mean of value per event type
    (`operators/trend.py trimmed_mean`): percentile cuts rounded before
    the band test so both engines keep identical rows — winsorize's
    discarding sibling in the robust-stats family."""
    from ningaloo_turtle_etl_spark.operators.trend import trimmed_mean

    ev = load_table(spark, "events", sf_dir)
    return trimmed_mean(ev, "event_type", "value", frac=0.05)


def _ewma_oracle_sql() -> str:
    import math as _m

    sig = repr(_m.sqrt(0.3 / 1.7))  # steady-state EWMA sigma factor
    return f"""
    WITH d AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS t,
               CAST(COUNT(*) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
    ),
    offs AS (SELECT i AS j, pow(0.7, i) AS w FROM unnest(range(14)) AS u(i)),
    lag AS (
        SELECT a.event_type, a.t, a.x, b.x AS xj, o.w
        FROM d a CROSS JOIN offs o
        JOIN d b ON b.event_type = a.event_type AND b.t = a.t - o.j
    ),
    ew AS (
        SELECT event_type, t, MIN(x) AS value,
               ROUND(SUM(xj * w) / SUM(w), 6) AS ewma
        FROM lag GROUP BY 1, 2
    ),
    st AS (
        SELECT event_type, ROUND(AVG(x), 6) AS center,
               ROUND(stddev_pop(x), 6) AS sd
        FROM d GROUP BY 1
    ),
    lim AS (
        SELECT ew.event_type, t, value, ewma, center,
               ROUND(center - 3.0 * sd * {sig}, 6) AS lcl,
               ROUND(center + 3.0 * sd * {sig}, 6) AS ucl
        FROM ew JOIN st USING (event_type)
    )
    SELECT event_type, t AS step, value, ewma, center, lcl, ucl,
           CAST(CASE WHEN ewma < lcl OR ewma > ucl THEN 1 ELSE 0 END
                AS INT) AS out_of_control
    FROM lim
    """


@register("ewma_daily_volume_chart", _ewma_oracle_sql())
def q_ewma_daily_volume_chart(spark, sf_dir):
    """EWMA control chart over daily event volume per type
    (`operators/trend.py ewma_control_chart`): the SPC drift detector
    that fires on small sustained shifts a 3-sigma point rule misses —
    span-14 trailing weights at the series grain, steady-state limits."""
    from ningaloo_turtle_etl_spark.operators.trend import (
        ewma_control_chart,
    )

    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("t"),
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    return ewma_control_chart(
        daily, "event_type", "t", "x", alpha=0.3, span=14, k=3.0
    )


@register(
    "psi_value_drift",
    """
    WITH t AS (
        SELECT value AS v,
               CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                    THEN 1 ELSE 0 END AS is_ref
        FROM events
    ),
    bounds AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM t WHERE is_ref = 1),
    binned AS (
        SELECT is_ref,
               CASE WHEN hi = lo THEN 0
                    ELSE least(greatest(
                        CAST(floor((v - lo) * 10 / (hi - lo)) AS INT), 0), 9)
               END AS bin
        FROM t, bounds
    ),
    per AS (
        SELECT bin, SUM(is_ref) AS rn, SUM(1 - is_ref) AS cn
        FROM binned GROUP BY bin
    ),
    tot AS (SELECT SUM(rn) AS rt, SUM(cn) AS ct FROM per),
    fr AS (
        SELECT bin,
               greatest(ROUND(CAST(rn AS DOUBLE) / rt, 6), 1e-6) AS ref_frac,
               greatest(ROUND(CAST(cn AS DOUBLE) / ct, 6), 1e-6) AS cur_frac
        FROM per, tot
    ),
    s AS (
        SELECT ROUND(SUM((cur_frac - ref_frac) * ln(cur_frac / ref_frac)), 6)
            AS psi
        FROM fr
    )
    SELECT bin, ref_frac, cur_frac, psi FROM fr, s
    """,
)
def q_psi_value_drift(spark, sf_dir):
    """Population Stability Index of the event value distribution,
    first-half vs second-half of the month (`operators/trend.py
    psi_drift`): the bounded, binned, scorecard-monitoring drift magnitude
    that complements value_ks_by_type's sensitivity test. Bins are frozen
    to the reference slice's min/max — the production pattern where the
    reference bin table persists and each new batch is a pure map + tiny
    agg."""
    from ningaloo_turtle_etl_spark.operators.trend import psi_drift

    ev = load_table(spark, "events", sf_dir)
    return psi_drift(
        ev,
        "value",
        F.to_date("ts") < F.lit("2024-01-16").cast("date"),
        n_bins=10,
    )


@register(
    "mann_kendall_daily_counts",
    """
    WITH grid AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT a.event_type,
               CAST(SUM(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat
        FROM grid a JOIN grid b
          ON a.event_type = b.event_type AND a.day < b.day
        GROUP BY 1
    ),
    n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM grid GROUP BY 1),
    ties AS (
        SELECT event_type,
               CAST(SUM(tp * (tp - 1) * (2 * tp + 5)) AS BIGINT) AS tie_term
        FROM (SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS tp
              FROM grid GROUP BY 1, 2) t
        WHERE tp > 1 GROUP BY 1
    ),
    j AS (
        SELECT n.event_type, n.n, COALESCE(s.s_stat, 0) AS s_stat,
               COALESCE(ties.tie_term, 0) AS tie_term
        FROM n LEFT JOIN s USING (event_type)
        LEFT JOIN ties USING (event_type)
    )
    SELECT event_type, n AS n_points, s_stat,
           ROUND((n * (n - 1) * (2 * n + 5) - tie_term) / 18.0, 6) AS var_s,
           ROUND(CASE
               WHEN s_stat > 0 THEN (s_stat - 1)
                   / sqrt((n * (n - 1) * (2 * n + 5) - tie_term) / 18.0)
               WHEN s_stat < 0 THEN (s_stat + 1)
                   / sqrt((n * (n - 1) * (2 * n + 5) - tie_term) / 18.0)
               ELSE 0.0 END, 6) AS z
    FROM j ORDER BY event_type
    """,
)
def mann_kendall_daily_counts(spark, sf_dir):
    """Mann-Kendall monotone-trend test on the daily event-count series
    per type (`operators/trend.py mann_kendall_trend`): the
    distribution-free 'is this drift real' companion to the Theil-Sen
    slope (`theil_sen_daily_counts`) — exact-integer S and tie terms,
    single-expression variance and continuity-corrected z, no float
    accumulation anywhere."""
    from ningaloo_turtle_etl_spark.operators.temporal import _epoch_seconds
    from ningaloo_turtle_etl_spark.operators.trend import mann_kendall_trend

    raw = load_table(spark, "events", sf_dir)
    grid = raw.select(
        "event_type",
        F.floor(_epoch_seconds(raw, "ts") / F.lit(86400))
        .cast("long")
        .alias("day"),
    ).groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    return mann_kendall_trend(
        grid, "event_type", "day", "x"
    ).orderBy("event_type")


@register(
    "spearman_value_vs_time",
    """
    WITH base AS (
        SELECT event_type, CAST(value AS DOUBLE) AS x,
               CAST(floor(epoch(ts)) AS DOUBLE) AS y
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    ranked AS (
        SELECT event_type,
               CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY x)
                    + count(*) OVER (PARTITION BY event_type, x) - 1
                    AS BIGINT) AS rx,
               CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY y)
                    + count(*) OVER (PARTITION BY event_type, y) - 1
                    AS BIGINT) AS ry
        FROM base
    ),
    agg AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(rx AS HUGEINT)) AS sx,
               SUM(CAST(ry AS HUGEINT)) AS sy,
               SUM(CAST(rx * rx AS HUGEINT)) AS sxx,
               SUM(CAST(ry * ry AS HUGEINT)) AS syy,
               SUM(CAST(rx * ry AS HUGEINT)) AS sxy
        FROM ranked GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                       AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                      THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE)
                                       * CAST(sy AS DOUBLE)))
                 END, 6) AS rho
    FROM agg ORDER BY event_type
    """,
)
def spearman_value_vs_time(spark, sf_dir):
    """Spearman rank correlation between event value and event time per
    type (`operators/trend.py spearman_by_group`): "is value drifting
    monotonically over the observation window" with an effect size,
    robust to any monotone transform — the association rung between
    correlation_diag's Pearson and mann_kendall_daily_counts' trend
    test. Doubled average ranks keep every sum an exact integer."""
    from ningaloo_turtle_etl_spark.operators.temporal import _epoch_seconds
    from ningaloo_turtle_etl_spark.operators.trend import spearman_by_group

    raw = load_table(spark, "events", sf_dir).where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    base = raw.select(
        "event_type",
        F.col("value").cast("double").alias("x"),
        _epoch_seconds(raw, "ts").cast("double").alias("y"),
    )
    return spearman_by_group(base, "x", "y", ["event_type"])


@register(
    "overdispersion_daily_counts",
    """
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE ts IS NOT NULL
        GROUP BY event_type, day
    ),
    agg AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS q
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days,
           ROUND(mean_d, 6) AS mean_daily,
           ROUND(var_d, 6) AS var_daily,
           ROUND(CASE WHEN mean_d > 0 THEN var_d / mean_d END, 6)
               AS dispersion_index,
           ROUND(CASE WHEN var_d > mean_d
                      THEN mean_d * mean_d / (var_d - mean_d) END, 6)
               AS nb_r,
           ROUND(CASE WHEN var_d > mean_d AND var_d > 0
                      THEN mean_d / var_d END, 6) AS nb_p
    FROM (SELECT event_type, n_days,
                 CAST(s AS DOUBLE) / n_days AS mean_d,
                 CAST(q AS DOUBLE) / n_days
                     - (CAST(s AS DOUBLE) / n_days)
                       * (CAST(s AS DOUBLE) / n_days) AS var_d
          FROM agg)
    ORDER BY event_type
    """,
)
def overdispersion_daily_counts(spark, sf_dir):
    """Overdispersion diagnosis of the daily event-count series per type
    with negative-binomial method-of-moments parameters: dispersion
    index D = var/mean (Poisson ⇒ 1; D > 1 means a Poisson volume model
    will underestimate tail days) and, when overdispersed, the NB
    moment fit r = m²/(v−m), p = m/v — the count-model rung next to
    seasonal_profile_events and mann_kendall_daily_counts. Exact
    integer daily counts and power sums; one day-grain aggregate then
    one type-grain reduce."""
    from ningaloo_turtle_etl_spark.operators.temporal import _epoch_seconds

    raw = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    daily = (
        raw.select(
            "event_type",
            F.floor(_epoch_seconds(raw, "ts") / F.lit(86400))
            .cast("long")
            .alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
    )
    mean_d = F.col("s").cast("double") / F.col("n_days")
    var_d = (
        F.col("q").cast("double") / F.col("n_days") - mean_d * mean_d
    )
    return agg.select(
        "event_type",
        "n_days",
        F.round(mean_d, 6).alias("mean_daily"),
        F.round(var_d, 6).alias("var_daily"),
        F.round(
            F.when(mean_d > 0, var_d / mean_d), 6
        ).alias("dispersion_index"),
        F.round(
            F.when(var_d > mean_d, mean_d * mean_d / (var_d - mean_d)), 6
        ).alias("nb_r"),
        F.round(
            F.when((var_d > mean_d) & (var_d > 0), mean_d / var_d), 6
        ).alias("nb_p"),
    ).orderBy("event_type")


@register(
    "hill_tail_index_by_type",
    """
    WITH base AS (
        SELECT event_type, CAST(value AS DOUBLE) AS x, event_id
        FROM events WHERE value > 0
    ),
    rn AS (
        SELECT event_type, x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY x DESC, event_id ASC) AS rn
        FROM base
    ),
    top AS (SELECT * FROM rn WHERE rn <= 51),
    thr AS (
        SELECT event_type, MIN(x) AS thr,
               CAST(COUNT(*) AS BIGINT) AS n_top
        FROM top GROUP BY event_type
    ),
    terms AS (
        SELECT t.event_type,
               CAST(ROUND(ln(t.x / th.thr) * 1000000.0, 0) AS HUGEINT)
                   AS tt
        FROM top t JOIN thr th USING (event_type)
        WHERE t.rn <= 50 AND th.n_top = 51
    ),
    o AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k, SUM(tt) AS tsum
        FROM terms GROUP BY event_type
    )
    SELECT o.event_type, k, ROUND(thr.thr, 6) AS x_k1,
           ROUND(CASE WHEN tsum > 0
                 THEN CAST(k AS DOUBLE)
                      / (CAST(tsum AS DOUBLE) / 1000000.0) END, 6)
               AS alpha
    FROM o JOIN thr USING (event_type)
    ORDER BY event_type
    """,
)
def q_hill_tail_index_by_type(spark, sf_dir):
    """Hill tail-index estimate (k=50) of event value per type
    (`operators/trend.py hill_tail_index`): the heavy-tail law
    diagnostic behind skew planning — α̂ near 1–2 says the column is
    Zipf-like and joins/aggs on it need salting or AQE skew handling,
    α̂ > 3 says uniform hashing is safe. Complements key_skew_report
    (realized skew of one key) with the generating-law view. Micro-
    quantized log ratios summed exactly; ratio divided before ln so
    both engines feed the identical double."""
    from ningaloo_turtle_etl_spark.operators.trend import hill_tail_index

    ev = load_table(spark, "events", sf_dir)
    return hill_tail_index(ev, "value", "event_type", "event_id", k=50)


@register(
    "market_concentration_brands",
    """
    WITH rev AS (
        SELECT p.p_brand AS brand,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100,
                              0) AS HUGEINT)) AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
               SUM(cents) AS tot_cents
        FROM rev
    ),
    shares AS (
        SELECT brand, cents,
               CAST(cents AS DOUBLE) / CAST(tot_cents AS DOUBLE) AS sh,
               ROW_NUMBER() OVER (ORDER BY cents DESC, brand ASC) AS rnk
        FROM rev, tot
    ),
    hhi AS (
        SELECT SUM(CAST(ROUND(sh * sh * 1000000000000.0, 0) AS HUGEINT))
                   AS hp
        FROM shares
    ),
    cr AS (
        SELECT SUM(cents) AS top4
        FROM shares WHERE rnk <= 4
    )
    SELECT n_brands,
           ROUND(CAST(tot_cents AS DOUBLE) / 100.0, 6) AS total_revenue,
           ROUND(CAST(hp AS DOUBLE) / 1000000000000.0, 6) AS hhi,
           ROUND(CAST(top4 AS DOUBLE) / CAST(tot_cents AS DOUBLE), 6)
               AS cr4
    FROM tot, hhi, cr
    """,
)
def q_market_concentration_brands(spark, sf_dir):
    """Brand revenue concentration — HHI and CR4 over discounted
    lineitem revenue: the market-structure companions to source_gini
    and inequality_profile_by_source (HHI is the regulator's Simpson
    index; CR4 the top-k mass). Centi-quantized revenue keeps every
    brand sum exact; share² terms are pico-quantized before the
    cross-brand sum; the top-4 window runs on the ~25-row brand grain.
    One fact scan, one broadcast dim join, entity-grain everything
    after."""
    from pyspark.sql.window import Window

    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).select(
        "p_partkey", "p_brand"
    )
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100,
        0,
    ).cast("decimal(38,0)")
    rev = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum(cents).alias("cents"))
        .localCheckpoint(eager=True)
    )
    tot = rev.agg(
        F.count(F.lit(1)).cast("long").alias("n_brands"),
        F.sum("cents").alias("tot_cents"),
    )
    shares = rev.crossJoin(F.broadcast(tot.select("tot_cents"))).select(
        "cents",
        (
            F.col("cents").cast("double")
            / F.col("tot_cents").cast("double")
        ).alias("sh"),
        F.row_number()
        .over(Window.orderBy(F.col("cents").desc(), F.col("brand").asc()))
        .alias("rnk"),
    )
    hhi = shares.agg(
        F.sum(
            F.round(F.col("sh") * F.col("sh") * 1e12, 0).cast(
                "decimal(38,0)"
            )
        ).alias("hp")
    )
    cr = shares.where(F.col("rnk") <= 4).agg(
        F.sum("cents").alias("top4")
    )
    out = (
        tot.crossJoin(F.broadcast(hhi)).crossJoin(F.broadcast(cr))
    )
    return out.select(
        "n_brands",
        F.round(
            F.col("tot_cents").cast("double") / F.lit(100.0), 6
        ).alias("total_revenue"),
        F.round(
            F.col("hp").cast("double") / F.lit(1e12), 6
        ).alias("hhi"),
        F.round(
            F.col("top4").cast("double")
            / F.col("tot_cents").cast("double"),
            6,
        ).alias("cr4"),
    )
