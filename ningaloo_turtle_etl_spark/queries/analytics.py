"""Profiling analytics over the events table — a per-column data-quality
profile, Benford first-digit conformance and inter-arrival statistics."""

from __future__ import annotations

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.registry import register
from ningaloo_turtle_etl_spark.sources.tables import load_table


@register(
    "data_quality_profile",
    """
    SELECT 'value' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(COUNT(DISTINCT value) AS BIGINT) AS n_distinct,
           ROUND(MIN(value), 6) AS min_val,
           ROUND(MAX(value), 6) AS max_val,
           ROUND(AVG(value), 6) AS mean_val
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           ROUND(MIN(user_id), 6), ROUND(MAX(user_id), 6),
           ROUND(AVG(user_id), 6)
    FROM events
    ORDER BY col_name
    """,
)
def data_quality_profile(spark, sf_dir):
    """Column-profile report (nulls, distincts, range, mean) for the
    numeric event columns — the expectation-suite summary a pipeline
    gate reads (`operators/quality.py` holds the per-row validators; this
    is the corpus-level view). Each column is one aggregate pass over the
    scan; COUNT(DISTINCT) is exact."""
    ev = load_table(spark, "events", sf_dir)

    def prof(col):
        return ev.agg(
            F.lit(col).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            F.round(F.min(col).cast("double"), 6).alias("min_val"),
            F.round(F.max(col).cast("double"), 6).alias("max_val"),
            F.round(F.avg(col), 6).alias("mean_val"),
        )

    return prof("value").unionByName(prof("user_id")).orderBy("col_name")


@register(
    "benford_first_digit",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT digit, n,
           ROUND(n * 1.0 / total, 6) AS observed,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_expected,
           ROUND(n * 1.0 / total - log10(1.0 + 1.0 / digit), 6) AS deviation
    FROM c, t ORDER BY digit
    """,
)
def benford_first_digit(spark, sf_dir):
    """Benford's-law first-digit audit of order totals: observed leading-
    digit frequencies vs log10(1 + 1/d) — the classic fraud/synthetic-data
    screen (natural multiplicative amounts follow Benford; fabricated ones
    rarely do). One map-side digit extraction + a 9-row aggregate; the
    explicit floor() before the BIGINT cast pins the digit cross-engine
    (DuckDB's double->BIGINT cast ROUNDS while Spark's truncates, and
    DuckDB renders large doubles in scientific notation, so the string
    must come from a floored BIGINT)."""
    ev = load_table(spark, "orders", sf_dir).filter(F.col("o_totalprice") >= 1)
    d = ev.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        ).cast("int").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("observed"),
            F.round(benford, 6).alias("benford_expected"),
            F.round(F.col("n") / F.col("total") - benford, 6).alias("deviation"),
        )
        .orderBy("digit")
    )


@register(
    "interarrival_stats",
    """
    WITH gaps AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id))) AS BIGINT) AS gap_s
      FROM events
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_gaps,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      ROUND(AVG(gap_s), 2) AS mean_gap_s,
      ROUND(quantile_cont(gap_s, 0.5), 2) AS median_gap_s,
      ROUND(quantile_cont(gap_s, 0.9), 2) AS p90_gap_s,
      CAST(SUM(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_session_breaks
    FROM gaps WHERE gap_s IS NOT NULL
    """,
)
def interarrival_stats(spark, sf_dir):
    """Inter-arrival time profile per user stream: mean/median/p90 gap and
    the count of 30-minute session breaks — the measurement that CALIBRATES
    the session-window gap before running session_tally (a gap picked
    blind is how sessions over- or under-merge). One user-keyed lag window
    + one global aggregate over the gap column; the exact percentile is
    the oracle form (approx_percentile at corpus scale). Gaps are WHOLE
    seconds in both engines — Spark unix_timestamp truncates sub-second
    parts while DuckDB epoch() keeps them, so the oracle floors epoch()
    explicitly."""
    from pyspark.sql.window import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.avg("gap_s"), 2).alias("mean_gap_s"),
        F.round(F.expr("percentile(gap_s, 0.5)"), 2).alias("median_gap_s"),
        F.round(F.expr("percentile(gap_s, 0.9)"), 2).alias("p90_gap_s"),
        F.sum(F.when(F.col("gap_s") > 1800, 1).otherwise(0)).alias(
            "n_session_breaks"
        ),
    )
