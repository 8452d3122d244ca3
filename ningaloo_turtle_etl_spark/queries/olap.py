"""Time-series resampling, running windows and concentration gauges — the
analytics a user of the reference's summary products (mwi-summary tables,
season tallies) reaches for next: regular-grid gap-filled series (resample
+ LOCF/linear fill), next-event transition matrices, rolling and
share-of-total windows, and the across- and within-source inequality of
corpus mass.

All fully DuckDB-oracled: generate_series grids and IGNORE NULLS windows
exist in both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.registry import register
from ningaloo_turtle_etl_spark.sources.tables import load_table


@register(
    "gap_fill_daily_values",
    """
    WITH obs AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_obs,
             AVG(value) AS v_avg
      FROM events WHERE event_id % 37 = 0
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(mn, mx)) AS bucket
      FROM (SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
            FROM obs GROUP BY 1)
    ),
    j AS (
      SELECT g.event_type, g.bucket,
             CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs, o.v_avg
      FROM grid g LEFT JOIN obs o USING (event_type, bucket)
    ),
    w AS (
      SELECT *,
        last_value(v_avg IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf,
        last_value(CASE WHEN v_avg IS NOT NULL THEN bucket END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_prev,
        first_value(v_avg IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
        first_value(CASE WHEN v_avg IS NOT NULL THEN bucket END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t_next
      FROM j
    )
    SELECT event_type, bucket, n_obs,
           ROUND(v_avg, 6) AS v_avg,
           ROUND(locf, 6) AS v_locf,
           ROUND(CASE WHEN v_avg IS NOT NULL THEN v_avg
                      ELSE locf + (v_next - locf) * (bucket - t_prev)
                                  / (t_next - t_prev) END, 6) AS v_linear
    FROM w
    ORDER BY event_type, bucket
    """,
)
def gap_fill_daily_values(spark, sf_dir):
    """Daily resample of a sparse event stream (a deterministic 1/37
    event subset, so real gaps exist at small SF) with LOCF and linear
    interpolation — `operators/temporal.py resample_gap_fill`. The grid is
    generated distributed (sequence+explode from a keys-sized bounds
    frame); fills are IGNORE NULLS windows over the aggregated grid, so
    window cost scales with grid size, not event count."""
    from ningaloo_turtle_etl_spark.operators.temporal import resample_gap_fill

    ev = load_table(spark, "events", sf_dir).filter(F.col("event_id") % 37 == 0)
    out = resample_gap_fill(
        ev, "event_type", ts_col="ts", value_col="value", step_seconds=86400
    )
    return out.select(
        "event_type",
        "bucket",
        "n_obs",
        F.round("v_avg", 6).alias("v_avg"),
        F.round("v_locf", 6).alias("v_locf"),
        F.round("v_linear", 6).alias("v_linear"),
    )


@register(
    "event_transition_probs",
    """
    WITH seq AS (
      SELECT event_type AS from_state,
             lead(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
      FROM events
    ),
    m AS (
      SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_state, to_state, n_transitions,
           ROUND(n_transitions / SUM(n_transitions)
                 OVER (PARTITION BY from_state), 6) AS prob
    FROM m
    ORDER BY from_state, to_state
    """,
)
def event_transition_probs(spark, sf_dir):
    """First-order Markov transition matrix over per-user event sequences
    (`operators/temporal.py markov_transitions`) — the next-event model.
    One user-keyed lead window over the events, then a states^2 aggregate;
    normalization windows over the tiny aggregated matrix."""
    from ningaloo_turtle_etl_spark.operators.temporal import markov_transitions

    ev = load_table(spark, "events", sf_dir)
    return markov_transitions(ev)


@register(
    "rolling_weekly_value",
    f"""
    WITH d AS ({{daily}})
    SELECT event_type, day, v,
           ROUND(AVG(v) OVER (PARTITION BY event_type ORDER BY day
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
             AS avg_7d,
           CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_7d
    FROM d
    ORDER BY event_type, day
    """.format(daily="""
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             round(AVG(value), 6) AS v,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    """),
)
def rolling_weekly_value(spark, sf_dir):
    """Trailing 7-day rolling mean and event count per event type: a
    RANGE-framed window over the day grain, so GAPS in the series are
    handled by value distance, not row offsets (a rows-frame would
    silently stretch the window across missing days). The window runs on
    the aggregated daily table — series-length rows per group, never raw
    events; the moving-rate view behind the drift monitors."""
    from pyspark.sql.window import Window

    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.floor(F.to_unix_timestamp("ts") / 86400).alias("day"),
    ).agg(
        F.round(F.avg("value"), 6).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "v",
        F.round(F.avg("v").over(w), 6).alias("avg_7d"),
        F.sum("n").over(w).alias("n_7d"),
    ).orderBy("event_type", "day")


@register(
    "value_share_of_total",
    """
    WITH g AS (
      SELECT event_type, ROUND(SUM(value), 2) AS total_value,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    )
    SELECT event_type, total_value, n,
           ROUND(total_value / SUM(total_value) OVER (), 6) AS value_share,
           ROUND(n * 1.0 / SUM(n) OVER (), 6) AS row_share
    FROM g ORDER BY event_type
    """,
)
def value_share_of_total(spark, sf_dir):
    """Share-of-total (ratio-to-report) per event type: each segment's
    fraction of global value and rows. The unpartitioned window runs over
    the ALREADY aggregated per-type table (groups-sized, one partition is
    correct there), never the fact — the standard two-level shape that
    avoids a global-window-over-raw-rows scale trap."""
    from pyspark.sql.window import Window

    ev = load_table(spark, "events", sf_dir)
    g = ev.groupBy("event_type").agg(
        F.round(F.sum("value"), 2).alias("total_value"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.partitionBy()
    return g.select(
        "event_type",
        "total_value",
        "n",
        F.round(F.col("total_value") / F.sum("total_value").over(w), 6).alias(
            "value_share"
        ),
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("row_share"),
    ).orderBy("event_type")


@register(
    "source_gini",
    """
    WITH counts AS (
        SELECT source AS k, SUM(n_chars) AS x FROM documents GROUP BY 1
    ),
    ranked AS (
        SELECT k, x, ROW_NUMBER() OVER (ORDER BY x, k) AS i FROM counts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(x) AS BIGINT) AS total_rows,
           ROUND(2.0 * SUM(i * x) / CAST(COUNT(*) * SUM(x) AS DOUBLE)
                 - (COUNT(*) + 1) / CAST(COUNT(*) AS DOUBLE), 6) AS gini
    FROM ranked
    """,
)
def q_source_gini(spark, sf_dir):
    """Gini coefficient of CHARACTER mass across sources
    (`operators/curation.py gini_concentration`): the whole-distribution
    corpus-concentration gauge — char/token mass is where concentration
    bites a training mix, and unlike the by-construction-uniform doc
    counts it is non-trivially distributed here. Exact integer moments
    over the key-cardinality table."""
    from ningaloo_turtle_etl_spark.operators.curation import gini_concentration

    docs = load_table(spark, "documents", sf_dir)
    return gini_concentration(docs, "source", weight_col="n_chars")


@register(
    "inequality_profile_by_source",
    """
    WITH base AS (
        SELECT source AS g, CAST(n_chars AS BIGINT) AS x
        FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0
    ),
    totals AS (
        SELECT g, CAST(SUM(x) AS BIGINT) AS sx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY g
    ),
    terms AS (
        SELECT base.g, base.x, totals.sx, totals.n,
               CASE WHEN base.x > 0 AND totals.sx > 0
                    THEN CAST(round((base.x * totals.n
                             / CAST(totals.sx AS DOUBLE))
                        * ln(base.x * totals.n
                             / CAST(totals.sx AS DOUBLE)) * 1e9, 0)
                        AS BIGINT)
                    ELSE 0 END AS t_theil,
               CAST(round(sqrt(CAST(base.x AS DOUBLE)) * 1e6, 0)
                    AS BIGINT) AS t_sqrt
        FROM base JOIN totals USING (g)
    ),
    agg AS (
        SELECT g, MAX(n) AS n, MAX(sx) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(t_theil) AS BIGINT) AS s_theil,
               CAST(SUM(t_sqrt) AS BIGINT) AS s_sqrt
        FROM terms GROUP BY g
    )
    SELECT g AS source, n,
           ROUND(sx / CAST(n AS DOUBLE), 6) AS mean,
           ROUND(CASE WHEN sx > 0
                       AND sxx / CAST(n AS DOUBLE)
                           - (sx / CAST(n AS DOUBLE))
                             * (sx / CAST(n AS DOUBLE)) > 0
                      THEN sqrt(sxx / CAST(n AS DOUBLE)
                           - (sx / CAST(n AS DOUBLE))
                             * (sx / CAST(n AS DOUBLE)))
                           / (sx / CAST(n AS DOUBLE))
                      ELSE 0.0 END, 6) AS cv,
           ROUND(s_theil / 1e9 / n, 6) AS theil_t,
           ROUND(CASE WHEN sx > 0
                      THEN 1.0 - pow(s_sqrt / 1e6 / n, 2)
                           / (sx / CAST(n AS DOUBLE))
                      ELSE 0.0 END, 6) AS atkinson_05
    FROM agg ORDER BY source
    """,
)
def q_inequality_profile_by_source(spark, sf_dir):
    """Within-source inequality of document length (`operators/curation.py
    inequality_profile`): CV, Theil T, and Atkinson(½) read together —
    top-, entropy-, and bottom-sensitive views of how unevenly char
    mass spreads across a source's documents, the mixing-pipeline
    companion to source_gini's across-source concentration."""
    from ningaloo_turtle_etl_spark.operators.curation import (
        inequality_profile,
    )

    docs = load_table(spark, "documents", sf_dir)
    return inequality_profile(docs, "source", "n_chars")
