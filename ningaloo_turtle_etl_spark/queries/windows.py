"""Window-function queries — SURVEY.md §2.5.

The reference never calls a window function by name, but its
ObservationStatus / remigration / duplicated() logic is window-shaped
(tagging-etl.Rmd:188-204, ningaloo-etl.Rmd:377). Expressed as Spark Window
specs; partition keys keep state bounded per entity at scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from ningaloo_turtle_etl_spark.operators.relational import with_observation_status
from ningaloo_turtle_etl_spark.registry import register
from ningaloo_turtle_etl_spark.sources.tables import load_table


@register(
    "observation_status",
    """
    WITH seq AS (
        SELECT user_id, ts, MONTH(ts) AS season,
               LAG(MONTH(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_season
        FROM events
    )
    SELECT CASE WHEN prev_season IS NULL THEN 'Initial'
                WHEN season <> prev_season THEN 'Remigrant'
                ELSE 'Resighting' END AS observation_status,
           COUNT(*) AS n
    FROM seq GROUP BY 1
    """,
)
def observation_status(spark, sf_dir):
    """ObservationStatus ∈ {Initial, Remigrant, Resighting}
    (tagging-etl.Rmd:188-196): first-vs-subsequent encounter per entity,
    new-season ⇒ remigrant. Here entity=user, season=month-of-ts."""
    ev = load_table(spark, "events", sf_dir).withColumn("season", F.month("ts"))
    # Tie-break identical timestamps on event_id for a deterministic sequence.
    ev = ev.withColumn(
        "_ord", F.struct(F.col("ts"), F.col("event_id"))
    )
    tagged = with_observation_status(ev, "user_id", "_ord", "season")
    return tagged.groupBy("observation_status").agg(F.count(F.lit(1)).alias("n"))


@register(
    "remigration_lag",
    """
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP) AS prev_ts
    FROM events
    WHERE user_id < 50
    """,
)
def remigration_lag(spark, sf_dir):
    """InterseasonRemigration history (tagging-etl.Rmd:202-204):
    lag(previous encounter) per entity ordered by time."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )


@register(
    "topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
)
def topk_per_group(spark, sf_dir):
    """Ranked top-k per group — the window form of the duplicated()/first-
    encounter family (SURVEY §2.5). AQE plans this as a single shuffle on the
    partition key; rank filter prunes early via WindowGroupLimit."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "first_event_per_user",
    """
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
    FROM (SELECT user_id, event_id, ts, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def first_event_per_user(spark, sf_dir):
    """First-encounter extraction — the 'Initial Sighting' record per entity
    (tagging-etl.Rmd:188-196)."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "event_id", "ts", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
