"""Aggregation queries — SURVEY.md §2.4 (A1-A9).

All of these run as partial (map-side) + final hash aggregations; double-typed
aggregates are rounded identically on both engines to absorb summation-order
ulps.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.operators.relational import (
    count_pivot,
    group_count,
    histogram,
)
from ningaloo_turtle_etl_spark.registry import register
from ningaloo_turtle_etl_spark.sources.tables import load_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "group_count_sorted",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY 1, 2
    ORDER BY n DESC
    """,
)
def group_count_sorted(spark, sf_dir):
    """A1/A2/O1: the workhorse tally with sort=T
    (ningaloo-etl.Rmd:309-311,323; wastd-api.Rmd:41)."""
    li = load_table(spark, "lineitem", sf_dir)
    return group_count(li, ["l_returnflag", "l_linestatus"], sort_desc=True)


@register(
    "pivot_event_types",
    """
    SELECT user_id,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
)
def pivot_event_types(spark, sf_dir):
    """A3: spread(key, n, fill=0) — one column per category, missing combos 0
    (ningaloo-etl.Rmd:313,326; wastd-api.Rmd:72 MARK matrix). Explicit value
    list → no distinct-scan pre-job."""
    ev = load_table(spark, "events", sf_dir)
    return count_pivot(ev, ["user_id"], "event_type", values=EVENT_TYPES)


@register(
    "agg_scalars",
    """
    SELECT CAST(MAX(ts) AS TIMESTAMP) AS latest_ts,
           CAST(MIN(ts) AS TIMESTAMP) AS first_ts, COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    """,
)
def agg_scalars(spark, sf_dir):
    """A4/A5: latest-observation max + nrow count (turtle-tracks.Rmd:65-66,
    app.R:123-124) in one scalar aggregation."""
    ev = load_table(spark, "events", sf_dir)
    return ev.agg(
        F.max("ts").alias("latest_ts"),
        F.min("ts").alias("first_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "summary_stats",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(MIN(l_quantity), 4) AS min_qty,
           ROUND(MAX(l_quantity), 4) AS max_qty,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS std_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price
    FROM lineitem GROUP BY 1
    """,
)
def summary_stats(spark, sf_dir):
    """A6: summary() — per-column min/mean/max/std (tagging-etl.Rmd:347,
    spatial_modelling.Rmd:140). Explicit aggregates, not df.summary(), so the
    result is deterministic and oracle-comparable."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("l_quantity"), 4).alias("min_qty"),
        F.round(F.max("l_quantity"), 4).alias("max_qty"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
    )


@register(
    "histogram_values",
    """
    SELECT FLOOR(value / 25.0) * 25.0 AS bin, COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def histogram_values(spark, sf_dir):
    """A7: stat_bin(binwidth=…) weekly-tally histogram (wastd-api.Rmd:43-45)
    as a single hash aggregation over floor buckets."""
    ev = load_table(spark, "events", sf_dir)
    return histogram(ev, "value", 25.0)


@register(
    "winsorized_value_stats",
    """
    WITH b AS (
        SELECT quantile_cont(value, 0.01) AS lo,
               quantile_cont(value, 0.99) AS hi
        FROM events
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(GREATEST(LEAST(value, hi), lo)), 6) AS avg_w,
           ROUND(MIN(GREATEST(LEAST(value, hi), lo)), 6) AS min_w,
           ROUND(MAX(GREATEST(LEAST(value, hi), lo)), 6) AS max_w
    FROM events, b GROUP BY event_type
    """,
)
def winsorized_value_stats(spark, sf_dir):
    """Outlier-robust per-type stats: event values winsorized to their
    global [p01, p99] before aggregating. Spark's exact interpolated
    `percentile` is bit-identical to DuckDB's `quantile_cont` (verified),
    so the clip points — and therefore the full oracle row — reproduce
    cross-engine; the 100 TB path flips `exact=False` for the mergeable
    approx_percentile sketch (same plan shape, documented on the
    operator)."""
    from ningaloo_turtle_etl_spark.operators.relational import winsorize

    ev = load_table(spark, "events", sf_dir)
    w = winsorize(ev, "value", 0.01, 0.99, name="vw", exact=True)
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("vw"), 6).alias("avg_w"),
        F.round(F.min("vw"), 6).alias("min_w"),
        F.round(F.max("vw"), 6).alias("max_w"),
    )
