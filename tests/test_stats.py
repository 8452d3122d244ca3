"""Statistical layer vs numpy reference implementations (M1-M7)."""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from ningaloo_turtle_etl_spark.stats import (
    correlation_matrix,
    fit_rda,
    forward_select,
    hellinger,
    pcnm_scores,
    variation_partition,
    with_residuals,
)


def _toy_regression(spark, n=200, seed=3):
    rng = np.random.RandomState(seed)
    x1 = rng.randn(n)
    x2 = rng.randn(n)
    noise = 0.1 * rng.randn(n)
    y = 2.0 + 1.5 * x1 - 0.7 * x2 + noise
    y2 = -1.0 + 0.5 * x1 + noise
    rows = [(float(a), float(b), float(c), float(d)) for a, b, c, d in zip(x1, x2, y, y2)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double, y2 double")
    return df, np.column_stack([np.ones(n), x1, x2]), np.column_stack([y, y2])


def test_fit_rda_matches_numpy_lstsq(spark):
    df, X, Y = _toy_regression(spark)
    coef, r2 = fit_rda(df, ["y", "y2"], ["x1", "x2"])
    expect, *_ = np.linalg.lstsq(X, Y, rcond=None)
    assert np.allclose(coef, expect, atol=1e-8)
    assert r2[0] > 0.95 and r2[1] > 0.9


def test_residuals_orthogonal_to_predictors(spark):
    df, _, _ = _toy_regression(spark)
    coef, _ = fit_rda(df, ["y"], ["x1", "x2"])
    resid = with_residuals(df, ["y"], ["x1", "x2"], coef)
    checks = resid.agg(
        F.avg("y_resid").alias("mean"),
        F.corr("y_resid", "x1").alias("c1"),
        F.corr("y_resid", "x2").alias("c2"),
    ).collect()[0]
    assert abs(checks["mean"]) < 1e-9
    assert abs(checks["c1"]) < 1e-7 and abs(checks["c2"]) < 1e-7


def test_hellinger_rows_have_unit_norm(spark):
    df = spark.createDataFrame(
        [(4, 1, 0), (0, 0, 0), (2, 2, 2)], "a int, b int, c int"
    )
    h = hellinger(df, ["a", "b", "c"]).collect()
    for r in h[:1] + h[2:]:
        assert abs(r["a"] ** 2 + r["b"] ** 2 + r["c"] ** 2 - 1.0) < 1e-9
    assert h[1]["a"] == 0.0  # zero-total row


def test_forward_select_prefers_true_predictor(spark):
    rng = np.random.RandomState(5)
    n = 300
    x_signal = rng.randn(n)
    x_noise1, x_noise2 = rng.randn(n), rng.randn(n)
    y = 3 * x_signal + 0.05 * rng.randn(n)
    df = spark.createDataFrame(
        [tuple(map(float, t)) for t in zip(x_signal, x_noise1, x_noise2, y)],
        "xs double, xn1 double, xn2 double, y double",
    )
    chosen = forward_select(df, ["y"], ["xn1", "xs", "xn2"], max_vars=3)
    assert chosen[0] == "xs"
    assert len(chosen) <= 2  # noise vars add ~nothing


def test_variation_partition_fractions_sum_to_one(spark):
    df, _, _ = _toy_regression(spark)
    parts = variation_partition(df, ["y"], ["x1"], ["x2"])
    assert abs(sum(parts.values()) - 1.0) < 1e-9
    assert parts["a_pure_x"] > 0.5  # x1 dominates y
    assert parts["d_unexplained"] < 0.1


def test_pcnm_scores_join_back(spark):
    # 2x3 grid of coords, several rows per coord → scores constant per coord.
    rows = [(i, float(i % 2), float(i % 3)) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, gx double, gy double")
    scored = pcnm_scores(df, ["gx", "gy"], n_vectors=2)
    assert "PCNM1" in scored.columns
    per_coord = scored.groupBy("gx", "gy").agg(
        F.countDistinct(F.round("PCNM1", 9)).alias("k")
    ).collect()
    assert all(r["k"] == 1 for r in per_coord)
    # Eigenvector scores are centered: mean over distinct coords ≈ 0.
    distinct = scored.select("gx", "gy", "PCNM1").distinct().collect()
    assert abs(sum(r["PCNM1"] for r in distinct)) < 1e-8


def test_correlation_matrix_symmetry(spark):
    df, _, _ = _toy_regression(spark)
    m = correlation_matrix(df, ["x1", "x2", "y"])
    assert np.allclose(m, m.T)
    assert m[0, 2] > 0.7  # y strongly driven by x1


def test_correlation_matrix_matches_per_pair_corr(spark):
    # One ml.stat.Correlation pass must agree with Spark's pairwise corr.
    df, _, _ = _toy_regression(spark)
    cols = ["x1", "x2", "y"]
    m = correlation_matrix(df, cols)
    for i in range(3):
        for j in range(i + 1, 3):
            assert abs(m[i, j] - df.stat.corr(cols[i], cols[j])) < 1e-9


def test_correlation_matrix_is_single_pass(spark):
    # The round-1 form ran one job per column pair; the matrix form must not
    # scale job count with k². VectorAssembler+Correlation costs a bounded
    # number of jobs (< k*(k-1)/2 for k=4 ⇒ < 6).
    df, _, _ = _toy_regression(spark)
    df = df.withColumn("x3", F.col("x1") + F.col("x2"))
    sc = spark.sparkContext
    sc.setJobGroup("corr-one-pass", "corr job count probe")
    try:
        correlation_matrix(df, ["x1", "x2", "x3", "y"])
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("corr-one-pass")
    assert 0 < len(jobs) < 6


def test_pcnm_scores_cardinality_guard(spark):
    # High-cardinality coordinates must fail fast, not OOM the driver.
    df = spark.range(200).select(
        F.col("id"), F.col("id").cast("double").alias("gx"),
        (F.col("id") * 2).cast("double").alias("gy"),
    )
    with pytest.raises(ValueError, match="distinct coordinate"):
        pcnm_scores(df, ["gx", "gy"], n_vectors=2, max_sites=100)


def test_forward_select_trace_matches_numpy_reference(spark):
    # The per-step bookkeeping (M4's driver row) must reproduce R² values
    # an independent numpy OLS computes, and flag the same greedy picks.
    from ningaloo_turtle_etl_spark.stats import forward_select_trace

    rng = np.random.RandomState(11)
    n = 250
    xs, xn1, xn2 = rng.randn(n), rng.randn(n), rng.randn(n)
    y = 2 * xs + 0.5 * xn1 + 0.1 * rng.randn(n)
    df = spark.createDataFrame(
        [tuple(map(float, t)) for t in zip(xs, xn1, xn2, y)],
        "xs double, xn1 double, xn2 double, y double",
    )
    trace = {
        (r["step"], r["candidate"]): (r["mean_r2"], r["chosen"])
        for r in forward_select_trace(df, ["y"], ["xs", "xn1", "xn2"], steps=2).collect()
    }
    cols = {"xs": xs, "xn1": xn1, "xn2": xn2}

    def np_r2(feature_names):
        X = np.column_stack([np.ones(n)] + [cols[f] for f in feature_names])
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        resid = y - X @ beta
        return 1 - (resid**2).sum() / ((y - y.mean()) ** 2).sum()

    for c in ("xs", "xn1", "xn2"):
        assert abs(trace[(1, c)][0] - round(np_r2([c]), 6)) < 2e-6
    assert trace[(1, "xs")][1] is True  # signal var picked first
    for c in ("xn1", "xn2"):
        assert abs(trace[(2, c)][0] - round(np_r2(["xs", c]), 6)) < 2e-6
    assert trace[(2, "xn1")][1] is True  # true secondary predictor next


def test_gini_concentration_known_values(spark):
    from ningaloo_turtle_etl_spark.operators.curation import gini_concentration

    # uniform counts -> 0
    rows = [(i, chr(65 + i % 4)) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, src string")
    assert gini_concentration(df, "src").collect()[0]["gini"] == 0.0
    # masses [1, 3] -> sum|xi-xj| / (2 n^2 mu) = 4/16 = 0.25
    w = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 3)], "id long, src string, wgt int"
    )
    r = gini_concentration(w, "src", weight_col="wgt").collect()[0]
    assert r["gini"] == 0.25 and r["total_rows"] == 4 and r["n_keys"] == 2


def test_class_diversity_profile_hand_cases(spark):
    """Uniform 2-class group: H = ln2, effective = 2, simpson = hhi =
    0.5; monoculture: H = 0, effective = 1, hhi = 1."""
    import math

    from ningaloo_turtle_etl_spark.operators.curation import (
        class_diversity_profile,
    )

    rows = [("u", "en"), ("u", "de"), ("u", "en"), ("u", "de"),
            ("m", "en"), ("m", "en"), ("m", "en")]
    df = spark.createDataFrame(rows, "g string, lang string")
    out = {
        r["g"]: r for r in class_diversity_profile(df, "g", "lang").collect()
    }
    assert out["u"]["n_classes"] == 2
    assert out["u"]["shannon_h"] == round(math.log(2), 6)
    assert out["u"]["effective_classes"] == 2.0
    assert out["u"]["simpson"] == 0.5 and out["u"]["hhi"] == 0.5
    assert out["m"]["shannon_h"] == 0.0
    assert out["m"]["effective_classes"] == 1.0
    assert out["m"]["hhi"] == 1.0


def test_moment_profile_hand_values(spark):
    """Symmetric data: skewness 0; uniform two-point data: kurtosis
    excess -2 (the minimum); constant data: variance 0, NULL g1/g2 —
    all from the explicit power-sum formulas (scipy-population
    convention)."""
    from ningaloo_turtle_etl_spark.operators.relational import (
        moment_profile,
    )

    rows = (
        [("sym", v) for v in (1.0, 2.0, 3.0, 4.0, 5.0)]
        + [("two", v) for v in (0.0, 1.0, 0.0, 1.0)]
        + [("const", 7.0)] * 3
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in moment_profile(df, "v", by=["g"]).collect()}
    assert out["sym"]["mean"] == 3.0
    assert out["sym"]["variance"] == 2.0
    assert out["sym"]["skewness"] == 0.0
    assert out["sym"]["kurtosis_excess"] == -1.3  # uniform 5-point
    assert out["two"]["kurtosis_excess"] == -2.0
    assert out["const"]["variance"] == 0.0
    assert out["const"]["skewness"] is None
    assert out["const"]["kurtosis_excess"] is None
