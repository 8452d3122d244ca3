"""Pairwise-preference operators: battle extraction and Bradley-Terry
ratings — the preference-data layer an RLHF / model-eval pipeline needs
(reward-model training data audits, "which model wins" leaderboards,
brand/variant preference rollups).

Reference analog: the reference ranks categories by simple counts
(`wamtram-sites.Rmd` summary tables); pairwise-preference fitting is the
extension a preference-labeled corpus needs, where raw win counts mislead
whenever matchups are unbalanced (the classic Bradley-Terry motivation:
an item that only ever faced weak opponents inflates its win rate).

Scale shape, both operators: everything reduces to the ITEM grid.
``pairwise_battles`` aggregates facts to (context, item) grain before
pairing, so fanout is contexts x k² for k items per context (k is single
digits in practice), never rows². ``bradley_terry_ratings`` aggregates
battles to the (winner, loser) grid — at most items² rows, bounded by
``max_items`` — and iterates driver-side on that bounded grid (the same
policy as the PAV fit); the fact table is touched exactly once.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def pairwise_battles(
    df: DataFrame,
    context_col: str,
    item_col: str,
    score_col: str,
) -> DataFrame:
    """(winner, loser) preference pairs: within each context (an order, a
    prompt, a session), every unordered item pair whose total scores
    differ emits one battle — the higher total wins; exact ties emit
    nothing (no information). Returns (context, winner, loser,
    winner_score, loser_score).

    Scale shape: one map-side-combined aggregate to (context, item)
    grain, then a context-keyed self-join whose fanout is the per-context
    item count squared — single digits per context in practice, linear in
    contexts overall."""
    agg = df.groupBy(
        F.col(context_col).alias("ctx"), F.col(item_col).alias("item")
    ).agg(F.sum(F.col(score_col)).alias("s"))
    a = agg.select("ctx", F.col("item").alias("ia"), F.col("s").alias("sa"))
    b = agg.select("ctx", F.col("item").alias("ib"), F.col("s").alias("sb"))
    return (
        a.join(b, "ctx")
        .filter((F.col("ia") < F.col("ib")) & (F.col("sa") != F.col("sb")))
        .select(
            F.col("ctx").alias(context_col),
            F.when(F.col("sa") > F.col("sb"), F.col("ia"))
            .otherwise(F.col("ib"))
            .alias("winner"),
            F.when(F.col("sa") > F.col("sb"), F.col("ib"))
            .otherwise(F.col("ia"))
            .alias("loser"),
            F.greatest("sa", "sb").alias("winner_score"),
            F.least("sa", "sb").alias("loser_score"),
        )
    )


def bradley_terry_ratings(
    battles: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    iterations: int = 20,
    max_items: int = 2000,
) -> DataFrame:
    """Bradley-Terry preference strengths via Hunter's (2004) MM
    iteration: P(i beats j) = p_i/(p_i+p_j), updated as

        p_i ← W_i / Σ_{j≠i} N_ij/(p_i+p_j),   then normalize Σp = 1,

    from the uniform start. The leaderboard fit that corrects for
    unbalanced matchups — raw win RATE can rank an item that only played
    weak opponents above one that grinded strong ones; BT cannot.

    ``iterations`` fixed-count synchronous rounds (deterministic, no
    convergence test — replayable cross-engine exactly like the kmeans /
    MF unrolled oracles). Items that never win rate exactly 0 (MM
    fixed point); guarded division skips the p_i+p_j = 0 terms that only
    those items can produce.

    Output: one row per item — (item, wins, losses, comparisons, rating,
    rank), rating 6dp, rank dense over the ROUNDED rating (desc) with
    item as tie-break, so ordering is grid-stable cross-engine.

    Scale shape: battles aggregate to the (winner, loser) grid — at most
    items² fixed-width rows, hard-bounded by ``max_items`` (raises
    beyond it: a leaderboard with millions of items wants the
    distributed-join formulation, not this driver fit) — and the MM loop
    runs on that bounded grid driver-side; the battle table is touched
    exactly once.

    Cross-engine determinism note: the MM sums here use ``math.fsum``
    (correctly-rounded, order-independent), while the DuckDB oracle's
    SUM accumulates in engine order — the two can differ by ~1 ulp per
    iteration, so a rating landing EXACTLY on a 6dp rounding boundary
    could round apart (the same accepted last-ulp risk class as the
    other iterative fits; the ranking tie-break on the rounded rating +
    item keeps row order stable whenever the roundings agree)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # items are emitted as strings (the leaderboard key type), so any
    # orderable item column works and the output schema is stable
    grid_df = (
        battles.groupBy(
            F.col(winner_col).cast("string").alias("i"),
            F.col(loser_col).cast("string").alias("j"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    n_items = (
        grid_df.select(F.col("i").alias("x"))
        .unionByName(grid_df.select(F.col("j").alias("x")))
        .distinct()
        .count()
    )
    if n_items > max_items:
        raise ValueError(
            f"bradley_terry_ratings: {n_items} items exceeds max_items="
            f"{max_items}; this is the bounded-driver fit"
        )
    rows = grid_df.collect()  # bounded: <= max_items^2 grid rows
    wins: dict = {}
    n: dict = {}
    items: set = set()
    for r in rows:
        i, j, w = r["i"], r["j"], int(r["w"])
        items.add(i)
        items.add(j)
        wins[i] = wins.get(i, 0) + w
        n[(i, j)] = n.get((i, j), 0) + w
        n[(j, i)] = n.get((j, i), 0) + w
    order = sorted(items)
    opp = {i: sorted({j for (a, j) in n if a == i}) for i in order}
    p = {i: 1.0 / len(order) for i in order} if order else {}
    # math.fsum: correctly-rounded, summation-order-independent — removes
    # the Python-side ordering sensitivity (see docstring determinism note)
    for _ in range(int(iterations)):
        new = {}
        for i in order:
            d = math.fsum(
                n[(i, j)] / (p[i] + p[j])
                for j in opp[i]
                if p[i] + p[j] > 0
            )
            new[i] = (wins.get(i, 0) / d) if d > 0 else 0.0
        s = math.fsum(new[i] for i in order)
        p = {i: (new[i] / s if s > 0 else 0.0) for i in order}
    spark = battles.sparkSession
    out_rows = []
    for i in order:
        comparisons = sum(n[(i, j)] for j in opp[i])
        w = wins.get(i, 0)
        out_rows.append((i, w, comparisons - w, comparisons, p[i]))
    schema = (
        "item string, wins long, losses long, comparisons long, rating double"
    )
    # rounding via F.round (HALF_UP), not Python round() (half-to-even) —
    # the repo-wide cross-engine rounding policy
    out = spark.createDataFrame(out_rows, schema).withColumn(
        "rating", F.round("rating", 6)
    )
    from pyspark.sql import Window

    rk = Window.orderBy(F.desc("rating"), F.asc("item"))
    return out.withColumn("rank", F.row_number().over(rk))
