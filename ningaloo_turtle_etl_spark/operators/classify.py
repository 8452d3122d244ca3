"""Model-based quality classification — the fastText/CCNet-style learned
quality filter (Wenzek et al. 2020; the GPT-3/LLaMA data-curation pattern of
training a classifier to separate "high-quality" from raw web text),
re-expressed Spark-first:

- **Features** are pure-Catalyst projections (stopword density, punctuation
  ratio, word-shape, length, repetition) — map-only, fused with the scan.
- **Training** is distributed MLlib ``LogisticRegression`` over those
  features: gradients computed executor-side, driver holds only the
  coefficient vector. No sampled-to-driver sklearn fit — at 100 TB the
  labeled set can itself be huge.
- **Serving** exports the fitted coefficients into a closed-form sigmoid
  column expression: scoring a corpus needs neither MLlib nor Python — it's
  a codegen'd arithmetic projection, deployable inside any existing query.

The reference has no ML layer (its closest analog is the rule-based QA
validation suite, tagging-etl.Rmd:134-184); this extends the engine per the
build brief's training-data-pipeline surface.
"""

from __future__ import annotations

from collections.abc import Sequence

import json
import math
import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ningaloo_turtle_etl_spark.operators.curation import with_repetition_metrics
from ningaloo_turtle_etl_spark.operators.text import (
    with_quality_score,
    with_token_counts,
)

#: Frozen model fixtures (trained by scripts/train_classifier_fixtures.py).
#: The registered queries serve these so the scoring path — the piece that
#: runs over 100 TB — is oracle-verifiable with fixed coefficients; training
#: itself stays covered by tests/test_classify.py.
FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "fixtures")


def load_model_fixture(name: str) -> dict:
    """Load a frozen classifier model dict from the package fixtures."""
    with open(os.path.join(FIXTURE_DIR, f"{name}.json")) as f:
        return json.load(f)


#: Feature order is part of the model contract: coefficients are exported in
#: this order and the serving expression indexes it positionally.
QUALITY_FEATURES: tuple[str, ...] = (
    "stopword_ratio",
    "punct_ratio",
    "log_n_words",
    "chars_per_word",
    "dup_2gram_ratio",
)


#: Every column featurize adds (features + intermediates). Part of the
#: public contract: callers whose frames already carry one of these names
#: must rename/drop first (featurize refuses to silently clobber), and
#: with_quality_probability sets colliding caller columns aside
#: automatically and restores them.
FEATURIZE_ADDS: tuple[str, ...] = (
    "n_words",
    "n_chars",
    "n_tokens_est",
    "stopword_ratio",
    "punct_ratio",
    "quality_score",
    "n_2grams",
    "dup_2gram_ratio",
    "log_n_words",
    "chars_per_word",
)


def featurize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the QUALITY_FEATURES columns — one fused pure-Catalyst
    projection built from the text-analysis operators.

    Raises when an input column collides with a column this adds: the
    recomputed value would silently replace the caller's data (the
    ``documents`` table really has ``n_chars``). Rename or drop the
    colliding columns first, or use ``with_quality_probability`` which
    handles the set-aside automatically."""
    clash = [c for c in df.columns if c in FEATURIZE_ADDS]
    if clash:
        raise ValueError(
            f"featurize would overwrite input column(s) {clash}; rename or "
            "drop them first (with_quality_probability does this for you)"
        )
    out = with_repetition_metrics(
        with_quality_score(with_token_counts(df, text_col), text_col), text_col, ns=(2,)
    )
    return out.withColumns(
        {
            "log_n_words": F.log1p(F.col("n_words").cast("double")),
            "chars_per_word": F.when(
                F.col("n_words") > 0,
                F.col("n_chars").cast("double") / F.col("n_words"),
            ).otherwise(F.lit(0.0)),
        }
    )


def train_quality_model(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    max_iter: int = 64,
    reg_param: float = 1e-3,
) -> dict:
    """Fit logistic regression distributed (MLlib) on the Catalyst features;
    return a plain-Python model dict ``{"features": [...], "coefficients":
    [...], "intercept": float}`` — small, serializable, and sufficient for
    the closed-form serving expression (`quality_probability_expr`). The
    heavy lifting (feature projection + gradient aggregation) runs
    executor-side; the driver sees O(n_features) state."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feats = featurize(labeled, text_col)
    assembled = VectorAssembler(
        inputCols=list(QUALITY_FEATURES), outputCol="_features"
    ).transform(feats)
    lr = LogisticRegression(
        featuresCol="_features",
        labelCol=label_col,
        maxIter=max_iter,
        regParam=reg_param,
        standardization=True,
    )
    model = lr.fit(assembled)
    return {
        "features": list(QUALITY_FEATURES),
        "coefficients": [float(c) for c in model.coefficients],
        "intercept": float(model.intercept),
    }


def quality_probability_expr(model: dict) -> Column:
    """σ(w·x + b) over the QUALITY_FEATURES columns as a single arithmetic
    expression — the model serves with zero MLlib/Python dependency and
    fuses into whole-stage codegen."""
    z = F.lit(float(model["intercept"]))
    for name, w in zip(model["features"], model["coefficients"]):
        z = z + F.lit(float(w)) * F.col(name).cast("double")
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def with_quality_probability(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    out_col: str = "quality_prob",
) -> DataFrame:
    """Featurize + score in one plan; every feature/intermediate column is
    dropped from the output, and caller columns that collide with feature
    names (e.g. documents.n_chars) are set aside before featurizing and
    restored afterwards — the output carries the caller's ORIGINAL values,
    never recomputed ones (ADVICE r03)."""
    aside = {c: f"_orig_{c}" for c in df.columns if c in FEATURIZE_ADDS}
    base = df.withColumnsRenamed(aside) if aside else df
    scored = featurize(base, text_col).withColumn(
        out_col, quality_probability_expr(model)
    )
    scored = scored.drop(*FEATURIZE_ADDS)
    if aside:
        scored = scored.withColumnsRenamed({v: k for k, v in aside.items()})
    return scored


# --- hashed bag-of-words classifier (fastText-style) -------------------------
# The heuristic-feature model above separates junk from prose; real corpus
# filters (CCNet's fastText, the GPT-3 WebText classifier) learn over the
# VOCABULARY. Same Spark-first split: hashed token features are Catalyst
# expressions keyed by F.hash (Murmur3, seed 42) — one hash function used
# at BOTH train and serve time, so there is no train/serve skew by
# construction (MLlib's HashingTF hashes differently, which is exactly the
# skew this avoids) — training is distributed MLlib LR over sparse vectors,
# and serving is explode → broadcast-join the coefficient dim → per-doc sum
# → sigmoid: no MLlib, no Python, one doc-width shuffle.


def hashed_token_features(
    df: DataFrame,
    n_features: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "murmur3",
) -> DataFrame:
    """(id, idx, cnt): lowercased whitespace tokens hashed into
    [0, n_features) buckets. ``hash_family``: 'murmur3' (default, Spark's
    `F.hash`, fastest) or 'md5' (60-bit md5 prefix mod n_features —
    bit-identical in DuckDB, which is what lets the registered query's
    frozen-coefficient serving path carry a full oracle row). The family is
    part of the model contract: train and serve MUST use the same one."""
    from ningaloo_turtle_etl_spark.operators.dedup import md5_hash60
    from ningaloo_turtle_etl_spark.operators.text import tokens

    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("_tok"),
    )
    if hash_family == "md5":
        idx = F.pmod(md5_hash60(F.col("_tok")), F.lit(n_features))
    elif hash_family == "murmur3":
        idx = F.pmod(F.hash("_tok"), F.lit(n_features))
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    return (
        toks.select(F.col(id_col), idx.alias("idx"))
        .groupBy(id_col, "idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_hashed_text_model(
    labeled: DataFrame,
    n_features: int = 1024,
    label_col: str = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iter: int = 64,
    reg_param: float = 1e-3,
    hash_family: str = "murmur3",
) -> dict:
    """Fit LR over hashed bag-of-words counts. The sparse-vector assembly
    uses a Python UDF — train-time only, over the labeled set (bounded by
    labeling budget, not corpus size); gradients aggregate executor-side as
    usual. Returns ``{"n_features", "hash_family", "coefficients" (dense
    list), "intercept"}`` for the Catalyst serving path."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import SparseVector, VectorUDT
    from pyspark.sql.functions import udf

    feats = hashed_token_features(labeled, n_features, id_col, text_col, hash_family)
    pairs = feats.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("idx"), F.col("cnt")))
        ).alias("_pairs")
    )

    @udf(returnType=VectorUDT())
    def to_vec(pairs_):
        return SparseVector(
            n_features,
            [int(p["idx"]) for p in pairs_],
            [float(p["cnt"]) for p in pairs_],
        )

    assembled = (
        labeled.select(id_col, label_col)
        .join(pairs, on=id_col, how="inner")
        .withColumn("_features", to_vec(F.col("_pairs")))
    )
    lr = LogisticRegression(
        featuresCol="_features",
        labelCol=label_col,
        maxIter=max_iter,
        regParam=reg_param,
        standardization=False,
    )
    model = lr.fit(assembled)
    return {
        "n_features": int(n_features),
        "hash_family": hash_family,
        "coefficients": [float(c) for c in model.coefficients.toArray()],
        "intercept": float(model.intercept),
    }


def hashed_text_scores(
    df: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "quality_prob",
) -> DataFrame:
    """Score a corpus with the hashed-BoW model, MLlib-free: explode tokens
    → hash to idx → broadcast-join the (idx, weight) dim (non-zero
    coefficients only) → per-doc partial-agg sum → sigmoid. Docs with no
    tokens (or only zero-weight buckets) score σ(intercept)."""
    spark = df.sparkSession
    coef = [
        (i, w) for i, w in enumerate(model["coefficients"]) if w != 0.0
    ]
    coef_df = spark.createDataFrame(coef or [(0, 0.0)], "idx int, w double")
    feats = hashed_token_features(
        df,
        model["n_features"],
        id_col,
        text_col,
        model.get("hash_family", "murmur3"),
    )
    z = (
        feats.join(F.broadcast(coef_df), on="idx", how="inner")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("w")).alias("_z"))
    )
    b = float(model["intercept"])
    return (
        df.join(z, on=id_col, how="left")
        .withColumn(
            out_col,
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.coalesce(F.col("_z"), F.lit(0.0)) + F.lit(b)))),
        )
        .drop("_z")
    )


def classifier_calibration(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected calibration error for a scored
    frame: bin predictions by ``floor(p * n_bins)`` (top edge folded into
    the last bin), per bin the count, mean predicted probability, and
    observed positive rate; ``ece`` (the support-weighted mean of
    |observed - predicted|, the standard calibration summary) is repeated
    on every row so the single result frame carries both the curve and
    the scalar. A classifier can rank well (AUC) and still be mis-scaled
    — calibration is what makes a 'keep if p > 0.9' curation threshold
    mean what it says.

    Output: one row per non-empty bin — (bin, n, mean_pred, frac_pos,
    ece), 6dp; ece computed FROM the rounded per-bin values so both
    engines fold identical numbers.

    Scale shape: one map-side-combined aggregate to <= n_bins rows; the
    ECE fold is a 1-row broadcast back over the bin table. The scored
    frame is touched once (scoring itself is the serving pipeline's
    pure-Catalyst sigmoid)."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("int")
    b = F.least(
        F.floor(p * n_bins).cast("int"), F.lit(int(n_bins) - 1)
    )
    bins = scored.select(b.alias("bin"), p.alias("p"), y.alias("y")).groupBy(
        "bin"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("p"), 6).alias("mean_pred"),
        F.round(F.avg("y"), 6).alias("frac_pos"),
    )
    tot = bins.agg(
        F.sum("n").alias("_tn"),
        F.sum(
            F.col("n") * F.abs(F.col("frac_pos") - F.col("mean_pred"))
        ).alias("_werr"),
    )
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "mean_pred",
        "frac_pos",
        F.round(F.col("_werr") / F.col("_tn"), 6).alias("ece"),
    )


def classifier_auc(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
) -> DataFrame:
    """Exact tie-corrected ROC AUC via the Mann-Whitney rank-sum identity,
    computed over the score-GROUPED table instead of a global sort of the
    scored frame: with per-distinct-score positive/negative counts
    (pos_s, neg_s) in ascending score order,

        AUC = Σ_s pos_s · (neg_below_s + neg_s / 2) / (P · N)

    — i.e. P(score⁺ > score⁻) + ½·P(score⁺ = score⁻), the standard
    tie-corrected AUC. Output: one row (auc 6dp, n_pos, n_neg).

    Scale shape: one map-side-combined ``groupBy(score)`` collapses the
    input to ≤ |distinct scores| rows (≤ 10^d + 1 for d-decimal-rounded
    probabilities — round the score upstream), the cumulative window and
    the P/N fold then run over that bin-sized table, and the totals come
    back as a 1-row broadcast. The scored frame itself is never globally
    sorted — this is the AUC that survives a 100 TB eval set, unlike the
    textbook rank(p) window."""
    from pyspark.sql.window import Window

    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("int")
    g = (
        scored.select(p.alias("p"), y.alias("y"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
        .withColumn("neg", F.col("n") - F.col("pos"))
    )
    # Single-partition window, but over the ≤ bin-count grouped table.
    w = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, -1)
    num = (
        g.withColumn("neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0)))
        .agg(
            F.sum(
                F.col("pos") * (F.col("neg_below") + F.col("neg") / 2.0)
            ).alias("_num")
        )
    )
    tot = g.agg(F.sum("pos").alias("_p"), F.sum("neg").alias("_n"))
    return num.crossJoin(F.broadcast(tot)).select(
        # try_divide: a single-class eval set yields NULL, not an ANSI
        # divide-by-zero crash.
        F.round(
            F.try_divide(F.col("_num"), F.col("_p") * F.col("_n")), 6
        ).alias("auc"),
        F.col("_p").cast("long").alias("n_pos"),
        F.col("_n").cast("long").alias("n_neg"),
    )


def score_decile_lift(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Equal-mass decile lift table, score descending (ties broken by
    ``id_col`` for a deterministic total order): per decile the count,
    mean score, positive rate, cumulative capture (share of ALL positives
    found in deciles 1..k) and cumulative lift vs the base rate — the
    'how much better than random is skimming the top k/10' table that
    justifies a quality-classifier keep-threshold.

    Scale note: ``ntile`` needs a global total order (single-partition
    window) — fine for the bounded eval frames this targets. At
    full-corpus scale compute approximate decile BOUNDARIES with
    ``approx_percentile`` and assign by comparison instead (the
    winsorize exact/sketch precedent, operators/relational.py); the
    equal-mass property then holds to sketch accuracy."""
    from pyspark.sql.window import Window

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    t = scored.select(
        F.col(prob_col).cast("double").alias("p"),
        F.col(label_col).cast("int").alias("y"),
        F.col(id_col).alias("_id"),
    ).withColumn(
        "decile",
        F.ntile(n_buckets).over(Window.orderBy(F.desc("p"), F.col("_id"))),
    )
    per = t.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("p"), 6).alias("mean_score"),
        F.sum("y").alias("_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = per.agg(F.sum("n").alias("_tn"), F.sum("_pos").alias("_tp"))
    return (
        per.withColumn("_cpos", F.sum("_pos").over(w))
        .withColumn("_cn", F.sum("n").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "mean_score",
            F.round(F.col("_pos") / F.col("n"), 6).alias("pos_rate"),
            F.round(F.try_divide(F.col("_cpos"), F.col("_tp")), 6).alias(
                "cum_capture"
            ),
            F.round(
                F.try_divide(
                    F.col("_cpos") / F.col("_cn"),
                    F.col("_tp") / F.col("_tn"),
                ),
                6,
            ).alias("cum_lift"),
        )
    )


def classifier_pr_curve(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
) -> DataFrame:
    """Precision/recall/F1 at EVERY distinct score threshold (predict
    positive when score >= t): the threshold-picking companion to
    ``classifier_auc`` — AUC says the ranking is good, this says WHERE to
    cut it (the FineWeb-Edu-style keep-threshold sweep). F1 is computed
    from the 6dp-rounded precision/recall so both engines fold identical
    numbers, and is 0 where both are 0.

    Output: one row per distinct score — (threshold, n_kept, precision,
    recall, f1), descending-threshold cumulative.

    Scale shape: identical to classifier_auc — one map-side-combined
    ``groupBy(score)`` to the bin-sized table, cumulative window and the
    positive-total broadcast over that table only; the scored frame is
    never globally sorted."""
    from pyspark.sql.window import Window

    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("int")
    g = (
        scored.select(p.alias("threshold"), y.alias("y"))
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    w = Window.orderBy(F.desc("threshold")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = g.agg(F.sum("pos").alias("_tp"))
    cum = (
        g.withColumn("n_kept", F.sum("n").over(w))
        .withColumn("_cpos", F.sum("pos").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            "n_kept",
            F.round(F.col("_cpos") / F.col("n_kept"), 6).alias("precision"),
            # try_divide: zero positives → recall NULL, not an ANSI crash.
            F.round(F.try_divide(F.col("_cpos"), F.col("_tp")), 6).alias(
                "recall"
            ),
        )
    )
    pr_sum = F.col("precision") + F.col("recall")
    return cum.withColumn(
        "f1",
        F.when(pr_sum == 0, F.lit(0.0)).otherwise(
            F.round(2 * F.col("precision") * F.col("recall") / pr_sum, 6)
        ),
    )


def keep_threshold_yield(
    scored: DataFrame,
    prob_col: str,
    token_col: str,
) -> DataFrame:
    """Data-yield curve for a keep-if-score>=t curation filter: at every
    distinct score threshold, how many documents and estimated tokens
    survive, and what share of the corpus that is — the capacity-planning
    table a threshold decision actually needs next to the PR curve (a cut
    that keeps 90% precision but 2% of tokens doesn't feed a training
    run).

    Output: one row per distinct score — (threshold, docs_kept,
    tokens_kept, doc_share, token_share), shares 6dp.

    Scale shape: groupBy(score) combines (count, token-sum) map-side to
    the bin-sized table; the cumulative window and the 1-row totals
    broadcast run over that table only."""
    from pyspark.sql.window import Window

    p = F.col(prob_col).cast("double")
    g = (
        scored.select(p.alias("threshold"), F.col(token_col).alias("_tok"))
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_tok").alias("tok"))
    )
    w = Window.orderBy(F.desc("threshold")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = g.agg(F.sum("n").alias("_tn"), F.sum("tok").alias("_tt"))
    return (
        g.withColumn("docs_kept", F.sum("n").over(w))
        .withColumn("tokens_kept", F.sum("tok").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            "docs_kept",
            F.col("tokens_kept").cast("long").alias("tokens_kept"),
            F.round(F.col("docs_kept") / F.col("_tn"), 6).alias("doc_share"),
            F.round(F.col("tokens_kept") / F.col("_tt"), 6).alias(
                "token_share"
            ),
        )
    )


def classifier_auc_by_group(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group tie-corrected ROC AUC — the bias-audit companion to
    ``classifier_auc``: a quality filter that ranks well globally can
    still rank one corpus source (or language, or time slice) near
    chance, silently skewing what survives curation there. Same
    Mann-Whitney fold on the distinct-(group, score) grain; groups
    missing a class yield NULL auc (try_divide), not a crash.

    Output: one row per group — (group, auc, n_pos, n_neg).

    Scale shape: strictly better than the global fold — every window is
    PARTITIONED by group, so nothing is single-partition anywhere; the
    grouped table is ≤ |groups|·|distinct scores| rows and the per-group
    totals join back on the group key (broadcast-sized)."""
    from pyspark.sql.window import Window

    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("int")
    g = (
        scored.select(
            F.col(group_col).alias("grp"), p.alias("p"), y.alias("y")
        )
        .groupBy("grp", "p")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
        .withColumn("neg", F.col("n") - F.col("pos"))
    )
    w = Window.partitionBy("grp").orderBy("p").rowsBetween(
        Window.unboundedPreceding, -1
    )
    num = (
        g.withColumn("neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0)))
        .groupBy("grp")
        .agg(
            F.sum(
                F.col("pos") * (F.col("neg_below") + F.col("neg") / 2.0)
            ).alias("_num")
        )
    )
    tot = g.groupBy("grp").agg(
        F.sum("pos").alias("_p"), F.sum("neg").alias("_n")
    )
    return num.join(tot, on="grp").select(
        F.col("grp").alias("group"),
        F.round(
            F.try_divide(F.col("_num"), F.col("_p") * F.col("_n")), 6
        ).alias("auc"),
        F.col("_p").cast("long").alias("n_pos"),
        F.col("_n").cast("long").alias("n_neg"),
    )


def isotonic_calibration(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Isotonic (PAV) score calibration: the non-parametric monotone map
    from raw classifier scores to empirical positive rates (Zadrozny &
    Elkan 2002) — the standard fix when a filter's scores rank well
    (healthy AUC) but their VALUES lie (a "0.9" that is right 60% of the
    time), which breaks any quality-threshold or expected-yield math
    downstream.

    Scores (probabilities in [0,1]) are frozen into ``n_bins`` equal-width
    bins; the pool-adjacent-violators algorithm then merges neighboring
    bins until the bin-wise positive rate is non-decreasing, each pooled
    rate being Σpos/Σn over its block — the weighted least-squares
    monotone fit. PAV itself runs DRIVER-SIDE on the collected bin table
    (≤ n_bins rows — the bounded-dimension pattern of fit_centroids /
    pcnm_scores), never on row grain; the result is a broadcastable
    calibration dimension to join onto any scored corpus.

    Output one row per non-empty bin: (bin, lo, hi, n, n_pos, rate_raw,
    rate_iso), rates rounded 6dp. Cross-engine parity: PAV's pooled
    block value at bin i equals the minimax formula
    max_{j<=i} min_{k>=i} (Σpos/Σn over bins j..k), so a DuckDB oracle
    replays the fit from the same integer bin sums with no iterative
    code (both engines divide the identical integer pair — bit-equal
    doubles)."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    b = F.least(
        F.floor(F.col(prob_col) * F.lit(int(n_bins))).cast("int"),
        F.lit(int(n_bins) - 1),
    )
    bins = (
        # NULL scores/labels would surface as an unsortable NULL bin / None
        # count at the driver — drop them here, documented: unscored rows
        # cannot inform a calibration map.
        scored.where(
            F.col(prob_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col(label_col).cast("long")).cast("long").alias("n_pos"),
        )
    )
    rows = sorted(bins.collect(), key=lambda r: r["bin"])
    if not rows:
        raise ValueError("isotonic_calibration: empty input")
    # PAV stack: each block [sum_n, sum_pos, member bins]; merge while the
    # previous block's rate exceeds the current one.
    blocks: list[list] = []
    for r in rows:
        blocks.append([int(r["n"]), int(r["n_pos"]), [int(r["bin"])]])
        while (
            len(blocks) >= 2
            and blocks[-2][1] * blocks[-1][0] > blocks[-1][1] * blocks[-2][0]
        ):
            n2, p2, bs2 = blocks.pop()
            blocks[-1][0] += n2
            blocks[-1][1] += p2
            blocks[-1][2].extend(bs2)
    raw = {int(r["bin"]): (int(r["n"]), int(r["n_pos"])) for r in rows}
    out = []
    width = 1.0 / n_bins
    for bn, bp, members in blocks:
        rate_iso = bp / bn
        for bin_ in members:
            n, p = raw[bin_]
            out.append(
                (bin_, bin_ * width, (bin_ + 1) * width, n, p, p / n, rate_iso)
            )
    spark = scored.sparkSession
    # Rounding happens in F.round (HALF_UP), NOT Python round() — Python
    # rounds half-to-even, which diverges from the DuckDB oracle's ROUND
    # at exact dyadic midpoints like 1/128 = 0.0078125.
    return spark.createDataFrame(
        sorted(out),
        "bin int, lo double, hi double, n long, n_pos long, "
        "rate_raw double, rate_iso double",
    ).select(
        "bin",
        F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"),
        "n",
        "n_pos",
        F.round("rate_raw", 6).alias("rate_raw"),
        F.round("rate_iso", 6).alias("rate_iso"),
    )


def split_conformal_report(
    scored: DataFrame,
    pred_col: str,
    label_col: str,
    id_col: str,
    alpha: float = 0.1,
    calib_frac: float = 0.5,
    by: Sequence[str] = (),
    exact: bool = True,
) -> DataFrame:
    """Split-conformal coverage report (Vovk et al.; the
    distribution-free uncertainty wrapper): a deterministic md5 split
    carves off a calibration set, q̂ is the ⌈(n_cal+1)(1−α)⌉-th smallest
    absolute residual there, and every TEST row's interval pred ± q̂ then
    covers the truth with probability ≥ 1−α on exchangeable data — no
    model assumptions, any scorer. The report aggregates test coverage
    (optionally per ``by`` group: the per-source slice shows whether the
    marginal guarantee hides an under-covered subpopulation, conformal's
    known caveat).

    Output: (by…, n_calib, n_test, q_hat, coverage, target). ``covered``
    compares 6dp-rounded residual against 6dp-rounded q̂ — with scores on
    a coarse grid, residual==q̂ ties are common, and comparing at the
    release grain keeps the flag bit-stable cross-engine where a last-ulp
    difference in the quantile would otherwise flip tied rows. If
    ⌈(n_cal+1)(1−α)⌉ exceeds n_cal the interval is infinite (tiny
    calibration sets cannot certify 1−α) and coverage is 1 by
    construction.

    Scale shape: the split and residuals are map-only; n_cal is one
    driver scalar (bounded driver state); q̂ is one aggregate.
    ``exact=True`` uses Spark's exact percentile at the integral order-
    statistic index — per-group memory like the exact winsorize path;
    ``exact=False`` flips to approx_percentile for corpus scale,
    trading the finite-sample guarantee's exactness (same twin pattern
    as winsorized_value_stats)."""
    if not 0 < alpha < 1 or not 0 < calib_frac < 1:
        raise ValueError("alpha and calib_frac must be in (0, 1)")
    from ningaloo_turtle_etl_spark.operators.dedup import _md5_uniform

    u = _md5_uniform(F.col(id_col))
    resid = F.abs(
        F.col(label_col).cast("double") - F.col(pred_col).cast("double")
    )
    # NULL pred/label rows are dropped up front (mirroring
    # isotonic_calibration): they carry no residual, and counting them in
    # n_cal while percentile() ignores their NULL residuals would map the
    # conformal index k onto the wrong order statistic.
    base = (
        scored.filter(
            F.col(pred_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .withColumn("_calib", u < F.lit(float(calib_frac)))
        .withColumn("_resid", resid)
    )
    calib = base.filter("_calib")
    n_cal = calib.count()
    k = math.ceil((n_cal + 1) * (1.0 - float(alpha)))
    if n_cal == 0 or k > n_cal:
        qhat_col = F.lit(float("inf"))
    else:
        frac = 0.0 if n_cal == 1 else (k - 1) / (n_cal - 1)
        fn = "percentile" if exact else "approx_percentile"
        qhat_col = F.expr(f"{fn}(_resid, {frac!r})")
    qhat = calib.agg(qhat_col.alias("q_hat")) if n_cal else (
        scored.sparkSession.createDataFrame([(float("inf"),)], "q_hat double")
    )
    g = list(by)
    test = base.filter(~F.col("_calib")).crossJoin(F.broadcast(qhat))
    covered = F.round("_resid", 6) <= F.round("q_hat", 6)
    return (
        test.groupBy(*g)
        .agg(
            F.lit(int(n_cal)).alias("n_calib"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.round(F.min("q_hat"), 6).alias("q_hat"),
            F.round(F.avg(covered.cast("double")), 6).alias("coverage"),
            F.round(F.lit(1.0 - float(alpha)), 6).alias("target"),
        )
    )


def calibration_error_by_group(
    scored: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group calibration scorecard: Brier score (mean squared error
    of the probability itself — the strictly proper score that punishes
    BOTH mis-ranking and mis-scaling), ECE (support-weighted mean
    |observed − predicted| over ``n_bins`` fixed-width bins) and MCE (the
    worst bin's gap). The per-group slice is the point:
    :func:`classifier_calibration` reports the marginal curve, and a
    model can be calibrated marginally while badly mis-scaled on one
    source/language slice — exactly the slice a quality-threshold
    curation gate then mis-filters.

    NULL pred/label rows are dropped up front (the isotonic/conformal
    convention). Output: (group…, n, n_pos, brier, ece, mce), 6dp; ECE
    and MCE fold the ROUNDED per-bin means so both engines see identical
    numbers.

    Scale shape: one map-side-combined aggregate to (group, bin) grain
    (≤ groups × n_bins rows), then a group-grain fold; the Brier moment
    rides the same pass. The scored frame is touched once."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    g = list(group_cols)
    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("int")
    base = scored.filter(
        F.col(prob_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        *g,
        F.least(F.floor(p * n_bins).cast("int"), F.lit(int(n_bins) - 1)).alias(
            "bin"
        ),
        p.alias("p"),
        y.alias("y"),
    )
    bins = base.groupBy(*g, "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_pos"),
        F.round(F.avg("p"), 6).alias("mean_pred"),
        F.round(F.avg("y"), 6).alias("frac_pos"),
        F.sum((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias(
            "_se"
        ),
    )
    gap = F.abs(F.col("frac_pos") - F.col("mean_pred"))
    return bins.groupBy(*g).agg(
        F.sum("n").alias("n"),
        F.sum("n_pos").alias("n_pos"),
        F.round(F.sum("_se") / F.sum("n"), 6).alias("brier"),
        F.round(F.sum(F.col("n") * gap) / F.sum("n"), 6).alias("ece"),
        F.round(F.max(gap), 6).alias("mce"),
    )


def woe_iv_report(
    df: DataFrame,
    feature_col: str,
    label_col: str,
) -> DataFrame:
    """Weight-of-evidence / information-value report for a categorical
    feature against a binary label — the classic scorecard-modeling
    screen (credit-risk lineage) for "how predictive is this column,
    and which values carry the signal": per feature value

        woe_v = ln( ((pos_v + 0.5)/POS) / ((neg_v + 0.5)/NEG) )

    (the 0.5 Laplace cell guard keeps empty cells finite), and the
    feature-level IV = Σ_v (pos_v/POS − neg_v/NEG)·woe_v folded from the
    ROUNDED per-value WOE so both engines sum identical numbers. Rule of
    thumb: IV < 0.02 useless, 0.1-0.3 medium, > 0.5 suspicious
    (leakage). NULL feature/label rows are dropped up front.

    Output: one row per feature value — (feature_value, n, n_pos, n_neg,
    pos_rate, woe, iv), 6dp, iv repeated on every row (the
    classifier_calibration convention: curve + scalar in one frame).

    Scale shape: one map-side-combined aggregate to the feature-value
    grain; the IV fold is a 1-row broadcast back over the value table.
    The fact is touched once."""
    base = df.filter(
        F.col(feature_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(feature_col).cast("string").alias("feature_value"),
        F.col(label_col).cast("int").alias("y"),
    )
    cells = base.groupBy("feature_value").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_pos"),
    )
    tot = cells.agg(
        F.sum("n_pos").alias("_pos"),
        F.sum(F.col("n") - F.col("n_pos")).alias("_neg"),
    )
    w = cells.crossJoin(F.broadcast(tot)).select(
        "feature_value",
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        F.round(F.col("n_pos") / F.col("n"), 6).alias("pos_rate"),
        F.round(
            F.log(
                ((F.col("n_pos") + F.lit(0.5)) / F.col("_pos"))
                / (
                    (F.col("n") - F.col("n_pos") + F.lit(0.5))
                    / F.col("_neg")
                )
            ),
            6,
        ).alias("woe"),
        (
            F.col("n_pos") / F.col("_pos")
            - (F.col("n") - F.col("n_pos")) / F.col("_neg")
        ).alias("_d"),
    )
    iv = w.agg(F.round(F.sum(F.col("_d") * F.col("woe")), 6).alias("iv"))
    return w.crossJoin(F.broadcast(iv)).drop("_d")


def naive_bayes_confusion(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """Multinomial Naive Bayes trained distributed and replayed on the
    SAME corpus, reported as a (actual, predicted, n) confusion grid —
    the classic bag-of-words language/domain classifier (the
    train-and-audit loop a labeling pipeline runs before trusting silver
    labels; in-sample by design, documented: the point is the training
    aggregation and scoring join, not generalization).

    Training is pure aggregation: class priors from doc counts, Laplace-
    smoothed token likelihoods ln((c_{k,t}+α)/(n_k+αV)) from one
    (class, token) count grid. Every log-likelihood and log-prior is
    quantized ONCE to integer nanos in the model table, so per-document
    score sums are exact integers and argmax ties break identically
    everywhere (smallest class label) — the repo's iterative-fit
    convention applied to a one-shot fit.

    Scale shape: ONE token explode; the model is a (class × vocab) dim
    (broadcastable); scoring joins each doc-token row to the model at
    token grain (fanout = tokens × classes) and map-side-combines to a
    per-(doc, class) sum — document text is read exactly once."""
    if alpha <= 0:
        raise ValueError("alpha must be > 0")
    from ningaloo_turtle_etl_spark.operators.text import tokens

    from pyspark import StorageLevel

    base = docs.select(
        F.col("doc_id").alias("id"),
        F.col(label_col).cast("string").alias("y"),
        tokens(F.lower(F.col(text_col))).alias("toks"),
    )
    tok = base.select("id", "y", F.explode("toks").alias("tk")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        classes = tok.select(F.col("y").alias("k")).distinct()
        vocab = tok.select("tk").distinct()
        v_n = vocab.count()
        kt = tok.groupBy(F.col("y").alias("k"), "tk").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        # dense (class x vocab) model grid so unseen (k, t) pairs carry
        # the alpha-only likelihood
        grid = classes.crossJoin(vocab).join(kt, on=["k", "tk"], how="left")
        nk = tok.groupBy(F.col("y").alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("nk")
        )
        a = float(alpha)
        model = (
            grid.join(nk, on="k")
            .select(
                "k",
                "tk",
                F.round(
                    F.log(
                        (F.coalesce("c", F.lit(0)) + F.lit(a))
                        / (F.col("nk") + F.lit(a) * F.lit(float(v_n)))
                    )
                    * F.lit(1e9),
                    0,
                )
                .cast("long")
                .alias("llm"),
            )
        )
        ndocs = base.count()
        prior = (
            base.groupBy(F.col("y").alias("k"))
            .agg(F.count(F.lit(1)).alias("dk"))
            .select(
                "k",
                F.round(
                    F.log(F.col("dk") / F.lit(float(ndocs))) * F.lit(1e9), 0
                )
                .cast("long")
                .alias("lpm"),
            )
        )
        scores = (
            tok.join(F.broadcast(model), on="tk")
            .groupBy("id", "k")
            .agg(F.sum("llm").cast("long").alias("sm"))
            .join(F.broadcast(prior), on="k")
            .select("id", "k", (F.col("sm") + F.col("lpm")).alias("score"))
        )
        from pyspark.sql.window import Window

        w = Window.partitionBy("id").orderBy(
            F.desc("score"), F.asc("k")
        )
        pred = (
            scores.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("id", F.col("k").alias("predicted"))
        )
        # Token-less docs produce no score rows (they never reach the
        # token join) but ARE counted in the priors — score them by the
        # prior-only argmax (same tie-break: largest prior, smallest
        # class label) so sum(n) over the grid equals the doc count.
        empty_pred = (
            base.filter(F.size("toks") == 0)
            .select("id")
            .crossJoin(
                F.broadcast(
                    prior.orderBy(F.desc("lpm"), F.asc("k"))
                    .limit(1)
                    .select(F.col("k").alias("predicted"))
                )
            )
        )
        out = (
            base.select("id", F.col("y").alias("actual"))
            .join(pred.unionByName(empty_pred), on="id")
            .groupBy("actual", "predicted")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        rows = out.collect()
    finally:
        tok.unpersist()
    return docs.sparkSession.createDataFrame(
        rows, "actual string, predicted string, n long"
    ).orderBy("actual", "predicted")


def gini_best_splits(
    df: DataFrame,
    feature_cols,
    label_col: str,
) -> DataFrame:
    """Best decision-stump split per numeric feature by weighted Gini
    impurity — CART's root-node search, run as pure aggregation: for
    each feature, candidate thresholds are the DISTINCT observed values;
    cumulative class counts over the sorted value grid give each cut's
    left/right Gini in one window pass (split rule: x <= threshold goes
    left). The feature-screening companion to `woe_iv_report` (WOE ranks
    by evidence, this ranks by achievable single-split purity).

    Determinism: class counts are exact integers; each cut's weighted
    Gini is a single closed-form expression over those integers, and
    the per-feature argmin breaks ties on the smaller threshold.
    Returns one row per feature: (feature, threshold, n_left, n_right,
    gini_split, gini_root, gain), 6dp.

    Scale shape: one (feature-value, class) aggregate per feature over
    one scan (the features unpivot map-side); windows run on the
    distinct-value grid, never raw rows."""
    feats = list(feature_cols)
    if not feats:
        raise ValueError("feature_cols must be non-empty")
    from pyspark.sql.window import Window

    y = (F.col(label_col).cast("double") != 0).cast("long")
    unpivot = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("feature"),
                        F.col(c).cast("double").alias("v"),
                    )
                    for c in feats
                ]
            )
        ).alias("fv"),
        y.alias("y"),
    ).select(
        F.col("fv.feature").alias("feature"), F.col("fv.v").alias("v"), "y"
    ).filter(F.col("v").isNotNull())
    grid = unpivot.groupBy("feature", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    w = Window.partitionBy("feature").orderBy("v")
    tot = Window.partitionBy("feature")
    cum = grid.select(
        "feature",
        "v",
        F.sum("n").over(w).alias("nl"),
        F.sum("pos").over(w).alias("pl"),
        F.sum("n").over(tot).alias("nt"),
        F.sum("pos").over(tot).alias("pt"),
    ).filter(F.col("nl") < F.col("nt"))  # the last cut splits nothing off
    nl, pl = F.col("nl"), F.col("pl")
    nr = F.col("nt") - nl
    pr = F.col("pt") - pl

    # explicit multiplies, not **2: POWER() goes through libm pow while
    # x*x is an exact IEEE multiply the oracle replays identically
    def _gini(p, n):
        a = p / n
        b = (n - p) / n
        return F.lit(1.0) - a * a - b * b

    gini_split = (nl / F.col("nt")) * _gini(pl, nl) + (
        nr / F.col("nt")
    ) * _gini(pr, nr)
    gini_root = _gini(F.col("pt"), F.col("nt"))
    scored = cum.select(
        "feature",
        F.col("v").alias("threshold"),
        nl.alias("n_left"),
        nr.alias("n_right"),
        F.round(gini_split, 6).alias("gini_split"),
        F.round(gini_root, 6).alias("gini_root"),
    )
    pick = Window.partitionBy("feature").orderBy(
        F.asc("gini_split"), F.asc("threshold")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(
            "feature",
            "threshold",
            "n_left",
            "n_right",
            "gini_split",
            "gini_root",
            F.round(F.col("gini_root") - F.col("gini_split"), 6).alias(
                "gain"
            ),
        )
    )


def logistic_gd_train(
    df: DataFrame,
    feature_cols,
    label_col: str,
    iterations: int = 3,
    lr: float = 0.5,
    add_intercept: bool = True,
) -> DataFrame:
    """DISTRIBUTED logistic-regression training by full-batch gradient
    descent — the minimal real model-training loop a data engine must
    support (quality classifiers, fastText-style filters): each of
    ``iterations`` rounds computes the exact batch gradient

        g_j = Σ_rows (σ(w·x) − y) · x_j

    in ONE map-side-combined aggregate (per-row terms quantized to
    integer nanos, so the reduce is exact-integer and summation order
    can never move a weight), then steps w ← w − lr·(g/1e9)/n on the
    driver. Unlike ``train_hashed_text_model`` (a frozen serving
    fixture), this TRAINS distributed and replays bit-for-bit in the
    unrolled DuckDB oracle — the weight trajectory is part of the
    contract. The 1-ulp exp() cross-engine caveat of the other libm
    paths applies to the nano quantization (accepted, as elsewhere).

    Returns one row per weight: (feature, weight) — weight 6dp — plus
    the shared training metrics on every row: train accuracy (sign of
    the FINAL margin — no libm in the decision) and mean log-loss
    (nano-quantized per row, exact sum), both 6dp.

    Scale shape: per iteration, ONE corpus scan aggregating to
    n_features+1 integer cells; driver state is the weight vector.
    The featurized frame persists across iterations+2 passes and is
    released before returning (the output is a bounded driver frame)."""
    feats = list(feature_cols)
    if not feats:
        raise ValueError("feature_cols must be non-empty")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    from pyspark import StorageLevel

    names = (["_intercept"] if add_intercept else []) + feats
    cols = ([F.lit(1.0).alias("_intercept")] if add_intercept else []) + [
        F.col(c).cast("double").alias(c) for c in feats
    ]
    base = df.select(
        *cols, (F.col(label_col).cast("double") != 0).cast("double").alias("_y")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = base.count()
        if n == 0:
            raise ValueError("logistic_gd_train: empty input")
        w = [0.0] * len(names)
        for _ in range(int(iterations)):
            margin = None
            for j, c in enumerate(names):
                t = F.lit(w[j]) * F.col(c)
                margin = t if margin is None else margin + t
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
            grads = base.agg(
                *[
                    F.sum(
                        F.round((p - F.col("_y")) * F.col(c) * F.lit(1e9), 0)
                        .cast("long")
                    ).alias(f"g{j}")
                    for j, c in enumerate(names)
                ]
            ).collect()[0]
            w = [
                w[j] - float(lr) * ((int(grads[f"g{j}"]) / 1e9) / n)
                for j in range(len(names))
            ]
        margin = None
        for j, c in enumerate(names):
            t = F.lit(w[j]) * F.col(c)
            margin = t if margin is None else margin + t
        # accuracy decides on the margin's SIGN — no libm in the decision
        correct = (
            (margin >= 0).cast("double") == F.col("_y")
        ).cast("long")
        # log-loss ln(1 + exp(-z)) with z = (2y-1)·margin, nano-quantized
        z = (F.lit(2.0) * F.col("_y") - F.lit(1.0)) * margin
        ll = F.round(F.log(F.lit(1.0) + F.exp(-z)) * F.lit(1e9), 0).cast(
            "long"
        )
        m = base.agg(
            F.sum(correct).alias("nc"), F.sum(ll).alias("lls")
        ).collect()[0]
        acc = int(m["nc"]) / n
        loss = (int(m["lls"]) / 1e9) / n
    finally:
        base.unpersist()
    rows = [(names[j], w[j], acc, loss) for j in range(len(names))]
    # F.round (HALF_UP), never Python round() (half-to-even) — the
    # repo-wide cross-engine rounding policy
    return (
        df.sparkSession.createDataFrame(
            rows,
            "feature string, weight double, train_acc double, "
            "train_logloss double",
        )
        .select(
            "feature",
            F.round("weight", 6).alias("weight"),
            F.round("train_acc", 6).alias("train_acc"),
            F.round("train_logloss", 6).alias("train_logloss"),
        )
        .orderBy("feature")
    )


def quantile_gd_train(
    df: DataFrame,
    feature_cols,
    label_col: str,
    q: float = 0.75,
    iterations: int = 4,
    lr: float = 64.0,
    add_intercept: bool = True,
) -> DataFrame:
    """DISTRIBUTED linear QUANTILE regression by full-batch subgradient
    descent on the pinball loss — the conditional-quantile twin of
    :func:`logistic_gd_train` (mean regression answers "expected value";
    a p75/p95 model is what latency/exposure budgeting actually needs):

        g_j = Σ_rows x_j · (1[w·x > y] − q),   w ← w − lr · (g / 1e9) / n

    with per-row gradient terms quantized to integer nanos before the
    exact-integer reduce (the indicator is a double comparison both
    engines evaluate on identical doubles, so the subgradient choice is
    engine-portable; ties w·x = y take the 1[·]=0 branch in both). The
    WEIGHT TRAJECTORY is the oracle contract, as with the logistic and
    MF trainers — convergence quality is the semantic test's job, not
    the oracle's.

    Returns one row per weight: (feature, weight) plus shared metrics on
    every row — coverage (fraction y ≤ w·x; → q at the optimum) and mean
    pinball loss (nano-quantized), 6dp.

    Scale shape: per iteration ONE map-side-combined aggregate to
    n_features+1 integer cells; driver state is the weight vector; the
    featurized frame persists across iterations+1 passes and releases
    before returning."""
    feats = list(feature_cols)
    if not feats and not add_intercept:
        raise ValueError(
            "feature_cols must be non-empty when add_intercept=False"
        )
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0.0 < q < 1.0:
        raise ValueError("q must be in (0, 1)")
    from pyspark import StorageLevel

    names = (["_intercept"] if add_intercept else []) + feats
    cols = ([F.lit(1.0).alias("_intercept")] if add_intercept else []) + [
        F.col(c).cast("double").alias(c) for c in feats
    ]
    base = df.select(
        *cols, F.col(label_col).cast("double").alias("_y")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = base.count()
        if n == 0:
            raise ValueError("quantile_gd_train: empty input")
        w = [0.0] * len(names)
        for _ in range(int(iterations)):
            pred = None
            for j, c in enumerate(names):
                t = F.lit(w[j]) * F.col(c)
                pred = t if pred is None else pred + t
            ind = (pred > F.col("_y")).cast("double")
            grads = base.agg(
                *[
                    F.sum(
                        F.round(
                            (ind - F.lit(float(q))) * F.col(c) * F.lit(1e9),
                            0,
                        ).cast("long")
                    ).alias(f"g{j}")
                    for j, c in enumerate(names)
                ]
            ).collect()[0]
            w = [
                w[j] - float(lr) * ((int(grads[f"g{j}"]) / 1e9) / n)
                for j in range(len(names))
            ]
        pred = None
        for j, c in enumerate(names):
            t = F.lit(w[j]) * F.col(c)
            pred = t if pred is None else pred + t
        u = F.col("_y") - pred
        pin = F.round(
            F.when(
                u >= 0, F.lit(float(q)) * u
            ).otherwise(F.lit(float(q) - 1.0) * u)
            * F.lit(1e9),
            0,
        ).cast("long")
        cov = (F.col("_y") <= pred).cast("long")
        m = base.agg(
            F.sum(cov).alias("nc"), F.sum(pin).alias("ps")
        ).collect()[0]
        coverage = int(m["nc"]) / n
        loss = (int(m["ps"]) / 1e9) / n
    finally:
        base.unpersist()
    rows = [(names[j], w[j], coverage, loss) for j in range(len(names))]
    return (
        df.sparkSession.createDataFrame(
            rows,
            "feature string, weight double, coverage double, "
            "pinball_loss double",
        )
        .select(
            "feature",
            F.round("weight", 6).alias("weight"),
            F.round("coverage", 6).alias("coverage"),
            F.round("pinball_loss", 6).alias("pinball_loss"),
        )
        .orderBy("feature")
    )


def gbm_stumps_train(
    df: DataFrame,
    feature_cols,
    label_col: str,
    iterations: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """DISTRIBUTED gradient boosting with decision-STUMP base learners
    (L2 boosting, Friedman 2001 with squared loss — the residual-
    fitting view): F₀ = mean(y); each round fits the single best stump
    to the CURRENT RESIDUALS across all features (the variance-
    reduction split: maximize sl²/nl + sr²/nr over the distinct-value
    grid) and adds lr · leaf-mean. The nonlinear-model rung above
    logistic_gd_train (linear) and gini_best_splits (one split, no
    boosting): three stumps already express V-shaped and interaction-
    free nonlinear responses no linear model can.

    Scale shape per round: ONE scan unpivoting the features map-side
    with the running prediction (an accumulated stump-literal CASE
    chain — no per-row state, no join), one (feature, value) grid
    aggregate, cumulative windows ON the grid, TakeOrdered(1) for the
    best cut. Driver state is the stump list.

    Determinism: residuals quantize to integer nanos on the grid sums;
    each cut's score sl²/nl + sr²/nr computes in double from those
    exact integers and re-quantizes to micros for the argmax
    (tiebreak: feature ASC, threshold ASC); leaf values and the lr step
    are plain double mirrored by the unrolled oracle. Split rule:
    x <= threshold goes left; rows with a NULL feature value are
    excluded from that feature's grid but still scored (they take the
    right branch, the x > threshold arm, at predict time — documented
    asymmetry, matching the CASE WHEN x <= t semantics both engines).

    Returns one row per round: (round, feature, threshold, left_value,
    right_value) with shared (f0, train_mse) on every row, 6dp."""
    feats = list(feature_cols)
    if not feats:
        raise ValueError("feature_cols must be non-empty")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    base = df.select(
        *[F.col(c).cast("double").alias(c) for c in feats],
        F.col(label_col).cast("double").alias("_y"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        head = base.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.round(F.col("_y") * F.lit(1e9), 0).cast("long")
            ).alias("sy"),
        ).collect()[0]
        n = int(head["n"])
        if n == 0:
            raise ValueError("gbm_stumps_train: empty input")
        f0 = (int(head["sy"]) / 1e9) / n
        stumps: list[tuple[str, float, float, float]] = []

        def _pred():
            p = F.lit(f0)
            for feat, thr, lv, rv in stumps:
                p = p + F.lit(float(lr)) * F.when(
                    F.col(feat) <= F.lit(thr), F.lit(lv)
                ).otherwise(F.lit(rv))
            return p

        for _ in range(int(iterations)):
            r = F.col("_y") - _pred()
            unpivot = base.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("feature"),
                                F.col(c).alias("v"),
                            )
                            for c in feats
                        ]
                    )
                ).alias("fv"),
                F.round(r * F.lit(1e9), 0).cast("long").alias("rn"),
            ).select(
                F.col("fv.feature").alias("feature"),
                F.col("fv.v").alias("v"),
                "rn",
            ).filter(F.col("v").isNotNull())
            grid = unpivot.groupBy("feature", "v").agg(
                F.count(F.lit(1)).cast("long").alias("c"),
                F.sum("rn").alias("s"),
            )
            w = Window.partitionBy("feature").orderBy("v")
            tot = Window.partitionBy("feature")
            cum = grid.select(
                "feature",
                "v",
                F.sum("c").over(w).alias("nl"),
                F.sum("s").over(w).alias("sl"),
                F.sum("c").over(tot).alias("nt"),
                F.sum("s").over(tot).alias("st"),
            ).filter(F.col("nl") < F.col("nt"))
            sl_d = F.col("sl") / F.lit(1e9)
            sr_d = (F.col("st") - F.col("sl")) / F.lit(1e9)
            score = sl_d * sl_d / F.col("nl") + sr_d * sr_d / (
                F.col("nt") - F.col("nl")
            )
            scored = cum.select(
                "feature",
                "v",
                "nl",
                "nt",
                "sl",
                "st",
                F.round(score * F.lit(1e6), 0).cast("long").alias("sc"),
            )
            best = (
                scored.orderBy(
                    F.desc("sc"), F.asc("feature"), F.asc("v")
                )
                .limit(1)
                .collect()[0]
            )
            lv = (int(best["sl"]) / 1e9) / int(best["nl"])
            rv = ((int(best["st"]) - int(best["sl"])) / 1e9) / (
                int(best["nt"]) - int(best["nl"])
            )
            stumps.append(
                (str(best["feature"]), float(best["v"]), lv, rv)
            )
        err = F.col("_y") - _pred()
        fit = base.agg(
            F.sum(
                F.round(err * err * F.lit(1e9), 0).cast("long")
            ).alias("se")
        ).collect()[0]
        mse = (int(fit["se"]) / 1e9) / n
    finally:
        base.unpersist()
    rows = [
        (t + 1, stumps[t][0], stumps[t][1], stumps[t][2], stumps[t][3], f0, mse)
        for t in range(len(stumps))
    ]
    return (
        df.sparkSession.createDataFrame(
            rows,
            "round int, feature string, threshold double, "
            "left_value double, right_value double, f0 double, "
            "train_mse double",
        )
        .select(
            "round",
            "feature",
            F.round("threshold", 6).alias("threshold"),
            F.round("left_value", 6).alias("left_value"),
            F.round("right_value", 6).alias("right_value"),
            F.round("f0", 6).alias("f0"),
            F.round("train_mse", 6).alias("train_mse"),
        )
        .orderBy("round")
    )
