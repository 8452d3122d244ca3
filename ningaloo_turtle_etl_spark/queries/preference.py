"""Pairwise-preference queries (operators/preference.py): battle
extraction and the Bradley-Terry leaderboard fit, oracle-replayed with
the same unrolled-synchronous-rounds technique as the kmeans / MF
oracles (fixed iteration count, no convergence test, so both
engines run the identical computation)."""

from __future__ import annotations

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.registry import register
from ningaloo_turtle_etl_spark.sources.tables import load_table

_BATTLES_SQL = """
    agg AS MATERIALIZED (
        SELECT l_orderkey AS ctx, p_brand AS item,
               SUM(CAST(l_quantity AS BIGINT)) AS s
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2
    ),
    battles AS MATERIALIZED (
        SELECT CASE WHEN a.s > b.s THEN a.item ELSE b.item END AS winner,
               CASE WHEN a.s > b.s THEN b.item ELSE a.item END AS loser
        FROM agg a JOIN agg b ON a.ctx = b.ctx AND a.item < b.item
        WHERE a.s <> b.s
    )"""


def _bt_oracle_sql(iterations: int = 20) -> str:
    """Unrolled MM iterations: r0 is uniform; each round recomputes the
    denominators from the previous ratings (NULLIF skips the p_i+p_j=0
    terms exactly like the operator's guard) and renormalizes to sum 1."""
    parts = [
        f"""WITH {_BATTLES_SQL},
    grid AS MATERIALIZED (
        SELECT winner AS i, loser AS j, COUNT(*) AS w
        FROM battles GROUP BY 1, 2
    ),
    nij AS MATERIALIZED (
        SELECT i, j, SUM(w) AS n FROM (
            SELECT i, j, w FROM grid
            UNION ALL SELECT j, i, w FROM grid
        ) GROUP BY 1, 2
    ),
    wins AS MATERIALIZED (SELECT i, SUM(w) AS wins FROM grid GROUP BY 1),
    items AS MATERIALIZED (SELECT DISTINCT i FROM nij),
    r0 AS MATERIALIZED (
        SELECT i, 1.0 / (SELECT COUNT(*) FROM items) AS p FROM items
    )"""
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
    d{k} AS MATERIALIZED (
        SELECT nij.i, SUM(nij.n / NULLIF(ra.p + rb.p, 0.0)) AS d
        FROM nij
        JOIN r{k - 1} ra ON nij.i = ra.i
        JOIN r{k - 1} rb ON nij.j = rb.i
        GROUP BY 1
    ),
    u{k} AS (
        SELECT d.i,
               CASE WHEN d.d IS NOT NULL AND d.d > 0
                    THEN COALESCE(w.wins, 0) * 1.0 / d.d
                    ELSE 0.0 END AS p
        FROM d{k} d LEFT JOIN wins w ON d.i = w.i
    ),
    r{k} AS MATERIALIZED (
        SELECT i, CASE WHEN SUM(p) OVER () > 0
                       THEN p / SUM(p) OVER () ELSE 0.0 END AS p
        FROM u{k}
    )"""
        )
    parts.append(
        f"""
    SELECT items.i AS item,
           CAST(COALESCE(w.wins, 0) AS BIGINT) AS wins,
           CAST(tot.n - COALESCE(w.wins, 0) AS BIGINT) AS losses,
           CAST(tot.n AS BIGINT) AS comparisons,
           ROUND(r{iterations}.p, 6) AS rating,
           CAST(ROW_NUMBER() OVER (
               ORDER BY ROUND(r{iterations}.p, 6) DESC, items.i
           ) AS INT) AS rank
    FROM items
    JOIN (SELECT i, SUM(n) AS n FROM nij GROUP BY 1) tot ON items.i = tot.i
    LEFT JOIN wins w ON items.i = w.i
    JOIN r{iterations} ON items.i = r{iterations}.i
    ORDER BY rank"""
    )
    return "".join(parts)


@register("bt_brand_preference", _bt_oracle_sql(20))
def q_bt_brand_preference(spark, sf_dir):
    """Bradley-Terry brand leaderboard from per-order quantity battles
    (`operators/preference.py pairwise_battles + bradley_terry_ratings`,
    20 MM rounds): within each order, the brand with the larger total
    quantity beats the smaller (ties emit nothing), and the MM fit turns
    the unbalanced matchup grid into preference strengths — the
    leaderboard correction raw win rates can't make. The oracle unrolls
    the same 20 synchronous rounds as chained CTEs, normalizing each
    round, so the fit replays exactly; ranks order by the ROUNDED rating
    with the item as tie-break (grid-stable cross-engine)."""
    from ningaloo_turtle_etl_spark.operators.preference import (
        bradley_terry_ratings,
        pairwise_battles,
    )

    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    facts = li.join(
        part, li.l_partkey == part.p_partkey
    ).select(
        "l_orderkey",
        "p_brand",
        F.col("l_quantity").cast("long").alias("qty"),
    )
    battles = pairwise_battles(facts, "l_orderkey", "p_brand", "qty")
    return bradley_terry_ratings(battles, iterations=20).orderBy("rank")
