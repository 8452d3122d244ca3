"""Privacy / governance operators for training-data release.

Before a corpus or its aggregates leave the pipeline, three standard gates:

- k-anonymity (Sweeney 2002): every combination of quasi-identifier values
  (the "equivalence class") must cover at least k individuals, or the rows
  are re-identifiable by linking on those columns.
- l-diversity (Machanavajjhala et al. 2007): a class can be k-large yet
  leak a sensitive attribute if all its members share one value — require
  at least l distinct sensitive values per class.
- Differentially-private counts (Dwork et al. 2006): published aggregates
  get Laplace(sensitivity/epsilon) noise. Here the noise is derived from an
  md5 hash of (group key, seed) — a deterministic inverse-CDF draw, so a
  release is exactly replayable (and oracle-checkable cross-engine) while
  still following the Laplace distribution across keys/seeds. Deterministic
  seeding means REUSING a seed for repeated releases of the same key spends
  no extra privacy budget but also adds no fresh noise; rotate the seed per
  release and account epsilon per release, as with any DP deployment.

Scale shape: everything is hash aggregates at quasi-identifier /group grain
with map-side partial aggregation; the suppression step is one broadcast-or
shuffle semi-join of class keys. Nothing here touches row payloads beyond
the grouping columns, so the gates run at corpus scale for the cost of one
count(*) pass.

Reference parity note: the reference pipeline has no privacy layer (its
outputs are site-level wildlife tallies, `/root/reference/ningaloo-etl.Rmd`);
this extends the engine's governance surface alongside PII redaction in
`operators/curation.py`.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

_TWO_52 = float(1 << 52)


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str | None = None,
    k: int = 5,
    l_diversity: int = 2,
) -> DataFrame:
    """Per-equivalence-class anonymity report: one row per distinct
    quasi-identifier combination with ``class_size``, ``is_k_anonymous``
    (class_size >= k) and — when ``sensitive_col`` is given —
    ``n_sensitive`` (distinct sensitive values) and ``is_l_diverse``
    (n_sensitive >= l_diversity).

    The dataset as a whole is k-anonymous iff every row has
    ``is_k_anonymous``; the k it actually achieves is ``min(class_size)``
    (see :func:`anonymity_summary`). One hash aggregate; count(distinct)
    is the only two-phase piece and is keyed by the same class columns.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    aggs = [F.count(F.lit(1)).alias("class_size")]
    if sensitive_col is not None:
        aggs.append(F.countDistinct(F.col(sensitive_col)).alias("n_sensitive"))
    out = df.groupBy(*quasi_cols).agg(*aggs)
    out = out.withColumn("is_k_anonymous", F.col("class_size") >= F.lit(int(k)))
    if sensitive_col is not None:
        out = out.withColumn(
            "is_l_diverse", F.col("n_sensitive") >= F.lit(int(l_diversity))
        )
    return out


def anonymity_summary(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str | None = None,
    k: int = 5,
    l_diversity: int = 2,
) -> DataFrame:
    """One-row rollup of :func:`k_anonymity_report`: ``n_classes``,
    ``n_rows``, ``achieved_k`` (the min class size — the k the release
    actually provides), ``n_small_classes`` / ``rows_at_risk`` under the
    requested k, and the l-diversity equivalents when a sensitive column is
    given. This is the go/no-go row a release gate reads."""
    rep = k_anonymity_report(df, quasi_cols, sensitive_col, k, l_diversity)
    aggs = [
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("class_size").alias("n_rows"),
        F.min("class_size").alias("achieved_k"),
        F.sum(F.when(~F.col("is_k_anonymous"), 1).otherwise(0)).alias(
            "n_small_classes"
        ),
        F.sum(
            F.when(~F.col("is_k_anonymous"), F.col("class_size")).otherwise(0)
        ).alias("rows_at_risk"),
    ]
    if sensitive_col is not None:
        aggs += [
            F.min("n_sensitive").alias("achieved_l"),
            F.sum(F.when(~F.col("is_l_diverse"), 1).otherwise(0)).alias(
                "n_undiverse_classes"
            ),
        ]
    return rep.agg(*aggs)


def suppress_small_classes(
    df: DataFrame, quasi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """Suppression step: drop every row whose quasi-identifier class has
    fewer than k members — the blunt-but-sound way to reach k-anonymity
    when generalization isn't on the table. Class keys + counts are one
    aggregate; the keep-set joins back as a semi-join on the class columns
    (broadcastable whenever the class dimension is small)."""
    keep = (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= F.lit(int(k)))
        .drop("_n")
    )
    return df.join(keep, on=list(quasi_cols), how="left_semi")


def generalize_to_k(
    df: DataFrame,
    levels: Sequence[Sequence[tuple[str, Column]]],
    k: int = 5,
    max_suppressed_frac: float = 0.0,
) -> DataFrame:
    """Generalization ladder to k-anonymity (global recoding, then residual
    suppression) — the standard alternative when dropping rows outright
    (:func:`suppress_small_classes`) is too lossy: coarsen the
    quasi-identifiers step by step (day → week → month → withheld,
    value → wider buckets) until the release fits the anonymity budget,
    and only then suppress whatever classes are still small.

    ``levels``: the ladder, ordered finest-first; each level is a list of
    ``(output_name, Column)`` pairs defining the generalized
    quasi-identifier columns at that grain. Every level must emit the SAME
    output names (same schema at every rung — a withheld column is
    ``F.lit(None).cast(...)``, not an absent column).

    Selection rule (deterministic, data-driven): the FIRST level whose
    rows-at-risk — the rows living in classes smaller than k — does not
    exceed ``max_suppressed_frac`` of the corpus is chosen; if no rung
    qualifies, the coarsest level is used. Rows still in small classes at
    the chosen level are suppressed, so the output is always k-anonymous.

    Returns the class-grain release: the generalized columns +
    ``class_size`` (BIGINT) + ``gen_level`` (INT, the chosen rung), only
    classes with ``class_size >= k``. The same rule replays in plain SQL
    (per-level aggregate + MIN(level) under the threshold), so registered
    uses are fully oracle-checkable.

    Scale shape: one count(*) pass for the corpus size, then per rung one
    hash aggregate at class grain reduced to a SINGLE driver-side scalar
    (rows at risk) — the driver loop is bounded by the ladder height
    (3-5), never by data size, and no row payloads are ever collected.
    The chosen level's class table is recomputed declaratively so Catalyst
    sees one clean plan for the released frame."""
    if not levels:
        raise ValueError("levels must be non-empty")
    names0 = [n for n, _ in levels[0]]
    for lvl in levels[1:]:
        if [n for n, _ in lvl] != names0:
            raise ValueError("every ladder level must emit the same columns")
    n_rows = df.count()
    budget = float(max_suppressed_frac) * float(n_rows)

    def _classes(lvl):
        return df.groupBy(
            *[expr.alias(name) for name, expr in lvl]
        ).agg(F.count(F.lit(1)).alias("class_size"))

    chosen = len(levels) - 1
    for i, lvl in enumerate(levels[:-1]):
        row = (
            _classes(lvl)
            .agg(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("class_size") < F.lit(int(k)),
                            F.col("class_size"),
                        )
                    ),
                    F.lit(0),
                ).alias("at_risk")
            )
            .first()
        )
        if float(row["at_risk"]) <= budget:
            chosen = i
            break
    return (
        _classes(levels[chosen])
        .filter(F.col("class_size") >= F.lit(int(k)))
        .withColumn("gen_level", F.lit(int(chosen)).cast("int"))
    )


def _group_key(group_cols: Sequence[str]) -> Column:
    """INJECTIVE noise key over the group columns: each column is md5-hashed
    separately (NULL → the literal 'NULL', which no 32-hex digest can equal)
    and the digests join with '#'. A plain concat_ws over raw values is NOT
    injective — concat_ws drops NULLs and does not escape the separator, so
    groups like ('a#b','c') vs ('a','b#c') or ('x',NULL) vs (NULL,'x') would
    share one key and receive IDENTICAL Laplace draws, correlating the noise
    across distinct groups and weakening both the DP guarantee and the
    per-group determinism contract. Mirrored verbatim in the DuckDB oracle
    (queries/privacy.py)."""
    return F.concat_ws(
        "#",
        *[
            F.coalesce(F.md5(F.col(c).cast("string")), F.lit("NULL"))
            for c in group_cols
        ],
    )


def _seeded_uniform(key: Column, seed: int) -> Column:
    """Deterministic uniform in (0,1) from md5(key # seed): 13 hex digits
    (52 bits) + a half-ulp offset so 0 and 1 are unreachable. The same
    md5-derived-hash family the sampling operators use for cross-engine
    oracle parity (operators/curation.py ``_sample_hash``)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws("#", key, F.lit(f"seed={int(seed)}"))), 1, 13),
        16,
        10,
    ).cast("long")
    return (h.cast("double") + F.lit(0.5)) / F.lit(_TWO_52)


def laplace_noise(key: Column, scale: float, seed: int = 0) -> Column:
    """Laplace(0, scale) noise by inverse CDF over the seeded uniform:
    -scale * sign(u - 1/2) * ln(1 - 2|u - 1/2|). Deterministic per (key,
    seed); Laplace-distributed across keys (distribution pinned in
    tests/test_privacy.py against a numpy reference)."""
    u = _seeded_uniform(key, seed)
    c = u - F.lit(0.5)
    return (
        F.lit(-float(scale))
        * F.signum(c)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(c))
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    epsilon: float = 1.0,
    sensitivity: float = 1.0,
    seed: int = 0,
    include_true: bool = False,
    ndigits: int = 6,
) -> DataFrame:
    """Differentially-private group counts: count(*) per group plus
    Laplace(sensitivity/epsilon) noise drawn deterministically from
    md5(group key, seed). ``noisy_count`` is rounded (release surface);
    negatives are kept — post-hoc clamping is the consumer's choice and
    doing it here would bias sums. ``include_true=True`` adds the exact
    count for audit/test harnesses (never set it on a real release).

    One hash aggregate; the noise is a map-side expression over the
    aggregate's (tiny) output, so the DP step adds zero shuffles."""
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    key = _group_key(group_cols)
    n = F.count(F.lit(1)).alias("_true_n")
    agg = df.groupBy(*group_cols).agg(n)
    noise = laplace_noise(key, float(sensitivity) / float(epsilon), seed)
    cols = list(group_cols) + [
        F.round(F.col("_true_n") + noise, ndigits).alias("noisy_count")
    ]
    if include_true:
        cols.append(F.col("_true_n").alias("true_count"))
    return agg.select(*cols)


def entropy_l_diversity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    l_value: int = 3,
) -> DataFrame:
    """ENTROPY l-diversity (Machanavajjhala et al. 2007 §3.2): distinct-
    count l-diversity accepts a class of 1000 rows where one sensitive
    value covers 998 of them — the attacker's posterior is near-certain
    even though n_sensitive >= l. The entropy instantiation requires
    H(class) = −Σ p·ln p >= ln(l), i.e. the EFFECTIVE number of sensitive
    values exp(H) >= l, which a skewed class fails.

    Per class: ``class_size``, ``n_sensitive``, ``entropy`` (nats),
    ``effective_l`` = exp(entropy), ``is_entropy_l_diverse``. Computed
    from the (class, sensitive-value) count grid as
    H = ln(n) − (Σ c·ln c)/n — integer counts into one ln each, so both
    engines evaluate the identical expression tree; per-class term sums
    quantize to integer nanos first (the repo summation-order
    convention). Two hash aggregates, both keyed by the class columns;
    nothing row-sized survives the first."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    cells = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    c = F.col("_c").cast("double")
    per_class = cells.groupBy(*quasi_cols).agg(
        F.sum("_c").cast("long").alias("class_size"),
        F.count(F.lit(1)).cast("long").alias("n_sensitive"),
        F.sum(F.round(c * F.log(c) * F.lit(1e9), 0).cast("long")).alias(
            "_clnc"
        ),
    )
    n = F.col("class_size").cast("double")
    entropy = F.log(n) - (F.col("_clnc") / F.lit(1e9)) / n
    # compare ROUNDED entropy to a 6dp threshold literal: both engines
    # parse the same decimal into the same double, so the flag can never
    # flip on a last-ulp ln() difference between libm builds
    threshold = round(math.log(l_value), 6)
    return per_class.select(
        *quasi_cols,
        "class_size",
        "n_sensitive",
        F.round(entropy, 6).alias("entropy"),
        F.round(F.exp(entropy), 6).alias("effective_l"),
        (F.round(entropy, 6) >= F.lit(threshold)).alias(
            "is_entropy_l_diverse"
        ),
    )


def dp_quantile_exponential(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    q_num: int = 1,
    q_den: int = 2,
    epsilon: float = 1.0,
    lo: float = 0.0,
    hi: float = 100.0,
    seed: int = 7,
) -> DataFrame:
    """Differentially-private QUANTILE release per group by the
    EXPONENTIAL MECHANISM (McSherry & Talwar 2007; the Smith 2011
    quantile instantiation) — the rank-statistic rung of the DP stack
    next to dp_noisy_counts' Laplace counts: Laplace noise on a
    quantile VALUE has unbounded sensitivity, so the mechanism samples
    an inter-point interval with probability ∝ width · e^{ε·u/2},
    u(interval j) = −|j − q·n| (how many ranks off target).

    Deterministic release (the dp_noisy_counts convention): the sample
    draw is the md5-seeded uniform per GROUP, so the same data + seed
    releases the same value and the whole mechanism replays in the
    DuckDB oracle; across groups/seeds the draw is uniform. q is a
    RATIONAL q_num/q_den so the utility distance d_j = |q_den·j −
    q_num·n| is exact integer; interval weights quantize to integer
    nanos before the exact cumulative-sum window, and the selected
    interval is the first whose cumsum reaches u·total (double compare,
    identical order both engines). Values clamp to [lo, hi]; the
    released point is the selected interval's midpoint.

    Scale shape: one per-group sort window (the unavoidable quantile
    shuffle), one lead() to form intervals plus one synthetic j=0
    boundary row per group, one cumsum window on the interval grain,
    one reduce per group. Returns (group..., n, dp_quantile) 6dp."""
    if q_den < 1 or not (0 <= q_num <= q_den):
        raise ValueError("q_num/q_den must be a fraction in [0, 1]")
    gb = [F.col(c) for c in group_cols]
    z = F.least(
        F.greatest(F.col(value_col).cast("double"), F.lit(float(lo))),
        F.lit(float(hi)),
    )
    base = df.where(F.col(value_col).isNotNull()).select(*gb, z.alias("z"))
    ranked = base.select(
        *gb,
        "z",
        F.row_number().over(
            Window.partitionBy(*gb).orderBy(F.col("z"))
        ).alias("j"),
        F.count(F.lit(1)).over(Window.partitionBy(*gb)).alias("n"),
        F.lead("z", 1, float(hi)).over(
            Window.partitionBy(*gb).orderBy(F.col("z"))
        ).alias("z_next"),
    )
    # j = 0 boundary interval (lo -> min value), one row per group
    bound0 = ranked.where(F.col("j") == 1).select(
        *gb,
        F.lit(float(lo)).alias("a"),
        F.col("z").alias("b"),
        F.lit(0).alias("j"),
        "n",
    )
    intervals = ranked.select(
        *gb, F.col("z").alias("a"), F.col("z_next").alias("b"), "j", "n"
    ).unionByName(bound0)
    # exact-integer utility distance, nano-quantized weight
    d = F.abs(
        F.lit(int(q_den)) * F.col("j") - F.lit(int(q_num)) * F.col("n")
    ).cast("double")
    wgt = (F.col("b") - F.col("a")) * F.exp(
        F.lit(-float(epsilon)) * d / F.lit(2.0 * q_den)
    )
    wn = F.round(wgt * F.lit(1e9), 0).cast("long")
    w_cum = (
        Window.partitionBy(*gb)
        .orderBy(F.col("j"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = intervals.select(
        *gb,
        "a",
        "b",
        "j",
        "n",
        F.sum(wn).over(w_cum).alias("cw"),
        F.sum(wn).over(Window.partitionBy(*gb)).alias("tw"),
    )
    key = F.md5(F.concat_ws("|", *gb))
    u = _seeded_uniform(key, seed)
    hit = cum.where(
        F.col("cw").cast("double") >= u * F.col("tw").cast("double")
    )
    return (
        hit.groupBy(*gb)
        .agg(
            F.max("n").alias("n"),
            F.min(F.struct("j", "a", "b")).alias("sel"),
        )
        .select(
            *[F.col(c) for c in group_cols],
            "n",
            F.round(
                (F.col("sel.a") + F.col("sel.b")) / F.lit(2.0), 6
            ).alias("dp_quantile"),
        )
        .orderBy(*[F.col(c) for c in group_cols])
    )
