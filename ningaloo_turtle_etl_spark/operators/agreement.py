"""Inter-annotator agreement for labeled-data QA.

Training-data pipelines route documents through multiple labelers (human
raters, heuristic classifiers, LLM judges); before trusting labels for
filtering or supervised training, measure how much the raters agree beyond
chance. Cohen's kappa (Cohen 1960) is the standard two-rater statistic:
kappa = (p_o - p_e) / (1 - p_e), with observed agreement p_o and the
chance agreement p_e implied by each rater's marginal label distribution.

Scale shape: everything is hash aggregates — one pass for the pair counts,
one per-rater marginal aggregate, one tiny join keyed by the group columns.
No windows, no UDFs, map-side partial aggregation throughout; per-group
state is O(#labels), so this runs at any corpus size without skew concerns
beyond the group key itself.

Reference parity note: the reference has no agreement layer (its QA is
rule-based, e.g. `/root/reference/ningaloo-etl.Rmd` range checks); this
extends the engine with a label-quality surface.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    by: Sequence[str] = (),
    ndigits: int = 6,
) -> DataFrame:
    """Cohen's kappa between two label columns, optionally per group.

    Returns one row per group: ``n_items`` (rows where BOTH labels are
    non-null — null-labeled rows are excluded, mirroring the pairwise-
    complete convention), ``p_observed``, ``p_expected``, ``kappa``.
    Degenerate case: if both raters assign a single identical label to
    every item, p_e = 1 and kappa is undefined — reported as 1.0 when
    agreement is perfect (the conventional limit), else 0.0.
    """
    keys = list(by)
    base = df.filter(F.col(rater_a).isNotNull() & F.col(rater_b).isNotNull())
    totals = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            F.when(F.col(rater_a) == F.col(rater_b), 1).otherwise(0)
        ).alias("_agree"),
    )
    # Chance agreement: sum over labels of (marginal_a(label) * marginal_b
    # (label)) / n². Two label-grain aggregates joined on (group, label) —
    # a FULL OUTER join so labels used by only one rater contribute zero
    # (their product term is null → coalesced out), then re-aggregated to
    # the group grain.
    ca = base.groupBy(*keys, F.col(rater_a).alias("_lbl")).agg(
        F.count(F.lit(1)).alias("_na")
    )
    cb = base.groupBy(*keys, F.col(rater_b).alias("_lbl")).agg(
        F.count(F.lit(1)).alias("_nb")
    )
    on = keys + ["_lbl"]
    pe = (
        ca.join(cb, on=on, how="full_outer")
        .groupBy(*keys)
        .agg(
            F.sum(
                F.coalesce(F.col("_na"), F.lit(0)).cast("double")
                * F.coalesce(F.col("_nb"), F.lit(0)).cast("double")
            ).alias("_pe_num")
        )
    )
    j = totals.join(pe, on=keys) if keys else totals.crossJoin(pe)
    po = F.col("_agree") / F.col("n_items")
    pec = F.col("_pe_num") / (F.col("n_items") * F.col("n_items"))
    kappa = (
        F.when((pec >= 1.0) & (po >= 1.0), F.lit(1.0))
        .when(pec >= 1.0, F.lit(0.0))
        .otherwise((po - pec) / (F.lit(1.0) - pec))
    )
    return j.select(
        *keys,
        "n_items",
        F.round(po, ndigits).alias("p_observed"),
        F.round(pec, ndigits).alias("p_expected"),
        F.round(kappa, ndigits).alias("kappa"),
    )


def agreement_confusion(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """Label-pair confusion counts between two raters — the drill-down
    companion to :func:`cohens_kappa` (which cell drives the disagreement).
    One hash aggregate at (group, label_a, label_b) grain."""
    keys = list(by)
    return (
        df.filter(F.col(rater_a).isNotNull() & F.col(rater_b).isNotNull())
        .groupBy(
            *keys,
            F.col(rater_a).alias("label_a"),
            F.col(rater_b).alias("label_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
