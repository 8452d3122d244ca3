"""Statistical-layer queries — M1/M2/M4/M6/M7 oracle-checked (the normal
equations and forward-selection R² bookkeeping are stated closed-form in
SQL); M3 PCNM stays rows-only (eigendecomposition has no SQL equivalent)
and M5 is a driver loop over M2 fits — both pinned against numpy in
tests/test_stats.py."""

from __future__ import annotations

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.operators.relational import count_pivot, with_rescaled
from ningaloo_turtle_etl_spark.registry import register
from ningaloo_turtle_etl_spark.sources.tables import load_table
from ningaloo_turtle_etl_spark.stats import hellinger


@register(
    "hellinger_transform",
    """
    WITH counts AS (
        SELECT o_orderpriority,
               CAST(COALESCE(SUM(CASE WHEN l_returnflag='A' THEN 1 END), 0) AS BIGINT) AS A,
               CAST(COALESCE(SUM(CASE WHEN l_returnflag='N' THEN 1 END), 0) AS BIGINT) AS N,
               CAST(COALESCE(SUM(CASE WHEN l_returnflag='R' THEN 1 END), 0) AS BIGINT) AS R
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
    )
    SELECT o_orderpriority,
           ROUND(sqrt(CAST(A AS DOUBLE) / (A + N + R)), 6) AS A,
           ROUND(sqrt(CAST(N AS DOUBLE) / (A + N + R)), 6) AS N,
           ROUND(sqrt(CAST(R AS DOUBLE) / (A + N + R)), 6) AS R
    FROM counts
    """,
)
def hellinger_transform(spark, sf_dir):
    """M1 (decostand hellinger, spatial_modelling.Rmd:149) over the species-
    matrix analog (priority × returnflag counts)."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    counts = count_pivot(
        li.join(o, li.l_orderkey == o.o_orderkey),
        keys=["o_orderpriority"],
        pivot_col="l_returnflag",
        values=("A", "N", "R"),
    )
    h = hellinger(counts, ["A", "N", "R"])
    return h.select(
        "o_orderpriority",
        *[F.round(c, 6).alias(c) for c in ("A", "N", "R")],
    )


@register(
    "correlation_diag",
    """
    SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(corr(l_extendedprice, l_discount), 6) AS corr_price_disc,
           ROUND(corr(l_quantity, l_tax), 6) AS corr_qty_tax
    FROM lineitem
    """,
)
def correlation_diag(spark, sf_dir):
    """M6 (pairs() diagnostics): Pearson correlations as one aggregation."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("corr_price_disc"),
        F.round(F.corr("l_quantity", "l_tax"), 6).alias("corr_qty_tax"),
    )


@register(
    "rescale_minmax",
    """
    SELECT c_custkey, c_mktsegment,
           ROUND((c_acctbal - MIN(c_acctbal) OVER (PARTITION BY c_mktsegment))
                 / NULLIF(MAX(c_acctbal) OVER (PARTITION BY c_mktsegment)
                          - MIN(c_acctbal) OVER (PARTITION BY c_mktsegment), 0),
                 6) AS acctbal_rescaled
    FROM customer
    """,
)
def rescale_minmax(spark, sf_dir):
    """M7 (scales::rescale, spatial_modelling.Rmd:171-172) per market
    segment — agg + broadcast join-back, not an unpartitioned window."""
    c = load_table(spark, "customer", sf_dir)
    out = with_rescaled(c, "c_acctbal", name="acctbal_rescaled", by=["c_mktsegment"])
    return out.select(
        "c_custkey", "c_mktsegment", F.round("acctbal_rescaled", 6).alias("acctbal_rescaled")
    )


@register(
    "rda_residual_stats",
    """
    WITH ev AS (
        SELECT event_type, CAST(value AS DOUBLE) AS y,
               CAST(hour(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS x1,
               CAST(day(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS x2
        FROM events
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
               SUM(x1*x1) AS s11, SUM(x1*x2) AS s12, SUM(x2*x2) AS s22,
               SUM(x1*y) AS s1y, SUM(x2*y) AS s2y
        FROM ev
    ),
    c AS (
        SELECT sx1/n AS m1, sx2/n AS m2, sy/n AS my,
               s11 - sx1*sx1/n AS c11, s12 - sx1*sx2/n AS c12,
               s22 - sx2*sx2/n AS c22,
               s1y - sx1*sy/n AS c1y, s2y - sx2*sy/n AS c2y
        FROM s
    ),
    b AS (
        SELECT my, m1, m2,
               (c22*c1y - c12*c2y) / (c11*c22 - c12*c12) AS b1,
               (c11*c2y - c12*c1y) / (c11*c22 - c12*c12) AS b2
        FROM c
    )
    SELECT ev.event_type,
           ROUND(AVG(y - (my - b1*m1 - b2*m2 + b1*x1 + b2*x2)), 4) AS mean_resid,
           ROUND(STDDEV_SAMP(y - (my - b1*m1 - b2*m2 + b1*x1 + b2*x2)), 4)
               AS std_resid
    FROM ev CROSS JOIN b
    GROUP BY ev.event_type
    """,
)
def rda_residual_stats(spark, sf_dir):
    """M2: distributed normal-equation OLS of event value on time features,
    residuals as map-only expressions; output = per-type residual summary.

    The oracle states the same fit closed-form: 2-predictor + intercept OLS
    by Cramer's rule over centered sums of products — algebraically the
    normal equations ``fit_rda`` solves with lstsq."""
    from ningaloo_turtle_etl_spark.stats import fit_rda, with_residuals

    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.col("value").alias("y"),
        F.hour("ts").cast("double").alias("x_hour"),
        F.dayofmonth("ts").cast("double").alias("x_day"),
    )
    coef, _ = fit_rda(ev, ["y"], ["x_hour", "x_day"])
    resid = with_residuals(ev, ["y"], ["x_hour", "x_day"], coef)
    return resid.groupBy("event_type").agg(
        F.round(F.avg("y_resid"), 4).alias("mean_resid"),
        F.round(F.stddev_samp("y_resid"), 4).alias("std_resid"),
    )


# Frozen PCNM1 fixture for the oracle (VERDICT r05 item 3; an oracle-side
# literal, the query itself reads no parameters): the query's coordinate
# universe is FIXED by construction —
# c_nationkey ∈ 0..24 → 25 distinct (nationkey%5, nationkey%7) pairs at every
# scale factor — so the 25×25 principal-coordinate eigenproblem has one
# deterministic answer, reproduced here at full float precision by the exact
# numpy recipe pcnm_scores runs (sorted sites, double-centered truncated
# distances, eigh, canonical largest-|component|-positive sign; eigengap
# λ1−λ2 ≈ 9.93 so PCNM1 is stable). The oracle joins this dim back and
# rounds in SQL, replaying the Spark plan's dedup→score→join-back shape.
_PCNM1_FIXTURE = (
    "(0,0,1.9585002147274826),(0,1,2.3151380059867),(0,3,0.1596753817034381),"
    "(0,5,-0.5159070333092461),(0,6,-0.38028815777634095),"
    "(1,0,2.8774555601487948),(1,1,3.4141826200272325),"
    "(1,2,1.8673090076965644),(1,4,-0.7373120513921649),"
    "(1,6,-0.6127771438089644),(2,0,2.1893705907311407),"
    "(2,1,2.5586458501938294),(2,2,0.883408375459337),"
    "(2,3,-1.0822496423629202),(2,5,-1.2461418593148093),"
    "(3,1,0.7301981011040026),(3,2,-0.8703931565521391),"
    "(3,3,-2.49231892294614),(3,4,-2.7486027826976),"
    "(3,6,-0.7498326371487752),(4,0,0.06566482794491352),"
    "(4,2,-1.3267116011742257),(4,3,-2.4480354397787933),"
    "(4,4,-2.3172504953740005),(4,5,-1.4917276120873177)"
)


@register(
    "pcnm_join_back",
    f"""
    WITH scores(sx, sy, pcnm1_raw) AS (VALUES {_PCNM1_FIXTURE}),
    agg AS (
        SELECT CAST(c_nationkey % 5 AS DOUBLE) AS gx,
               CAST(c_nationkey % 7 AS DOUBLE) AS gy,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer
        GROUP BY 1, 2
    )
    SELECT agg.gx, agg.gy, agg.n, ROUND(scores.pcnm1_raw, 4) AS pcnm1
    FROM agg
    JOIN scores ON agg.gx = CAST(scores.sx AS DOUBLE)
               AND agg.gy = CAST(scores.sy AS DOUBLE)
    """,
)
def pcnm_join_back(spark, sf_dir):
    """M3: PCNM eigenvector scores computed on distinct synthetic coords and
    broadcast-joined back (the 61-sites trick,
    reference spatial_modelling.Rmd:217-224). The eigendecomposition itself
    is driver-side numpy (deterministic: sorted site list + canonical
    eigenvector sign), so the oracle freezes the 25-site PCNM1 score matrix
    as a fixture dim and replays the dedup→join-back + aggregate in SQL —
    full rows/schema/hash check, not rows-only."""
    from ningaloo_turtle_etl_spark.stats import pcnm_scores

    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        (F.col("c_nationkey") % 5).cast("double").alias("gx"),
        (F.col("c_nationkey") % 7).cast("double").alias("gy"),
    )
    scored = pcnm_scores(c, ["gx", "gy"], n_vectors=2)
    return scored.groupBy("gx", "gy").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.first("PCNM1"), 4).alias("pcnm1"),
    )


_FWD_CANDS = ("x_hour", "x_day", "x_dow")
_FWD_SQL_EXPR = {
    "x_hour": "CAST(hour(CAST(ts AS TIMESTAMP)) AS DOUBLE)",
    "x_day": "CAST(day(CAST(ts AS TIMESTAMP)) AS DOUBLE)",
    # Spark dayofweek is Sunday=1; DuckDB's is Sunday=0 — shift to match.
    "x_dow": "CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS DOUBLE)",
}


def _forward_sel_oracle_sql() -> str:
    """DuckDB SQL replaying forward_select_trace's two greedy steps: step-1
    R² is corr(y, c)²; step-2 R² for chosen b and candidate c is the
    partial-correlation closed form
    (r_yb² + r_yc² − 2·r_yb·r_yc·r_bc)/(1 − r_bc²) — algebraically the
    1 − SSE/SST of the 2-predictor OLS fit_rda solves. The data-dependent
    step-1 pick (max R², ties to the larger name, as Python max over
    (r2, name) tuples) is itself computed in SQL."""
    cands = _FWD_CANDS
    corr_cols = ", ".join(
        f"corr(y, {c}) AS r_y_{c}" for c in cands
    ) + ", " + ", ".join(
        f"corr({a}, {b}) AS r_{a}_{b}"
        for i, a in enumerate(cands)
        for b in cands[i + 1 :]
    )

    def r_pair(a: str, b: str) -> str:
        i, j = _FWD_CANDS.index(a), _FWD_CANDS.index(b)
        if i > j:
            a, b = b, a
        return f"r_{a}_{b}"

    step1_rows = " UNION ALL ".join(
        f"SELECT 1 AS step, '{c}' AS candidate, pow(r_y_{c}, 2) AS mean_r2 FROM cm"
        for c in cands
    )
    # Step 2: for each (possible chosen b, remaining c) resolve the three
    # correlations via CASE over the computed best candidate.
    case_r2 = " ".join(
        f"WHEN best.b = '{b}' AND c2.candidate = '{c}' THEN "
        f"(pow(r_y_{b}, 2) + pow(r_y_{c}, 2)"
        f" - 2 * r_y_{b} * r_y_{c} * {r_pair(b, c)})"
        f" / (1 - pow({r_pair(b, c)}, 2))"
        for b in cands
        for c in cands
        if b != c
    )
    cand_values = ", ".join(f"('{c}')" for c in cands)
    return f"""
    WITH ev AS (
        SELECT CAST(value AS DOUBLE) AS y,
               {", ".join(f"{_FWD_SQL_EXPR[c]} AS {c}" for c in cands)}
        FROM events
    ),
    cm AS (SELECT {corr_cols} FROM ev),
    step1 AS ({step1_rows}),
    best AS (
        SELECT candidate AS b FROM step1
        ORDER BY mean_r2 DESC, candidate DESC LIMIT 1
    ),
    step2 AS (
        SELECT 2 AS step, c2.candidate,
               CASE {case_r2} END AS mean_r2
        FROM (VALUES {cand_values}) c2(candidate), best, cm
        WHERE c2.candidate <> best.b
    ),
    best2 AS (
        SELECT candidate AS b2 FROM step2
        ORDER BY mean_r2 DESC, candidate DESC LIMIT 1
    ),
    trace AS (
        SELECT step, candidate, mean_r2,
               (step = 1 AND candidate = (SELECT b FROM best))
               OR (step = 2 AND candidate = (SELECT b2 FROM best2)) AS chosen
        FROM (SELECT * FROM step1 UNION ALL SELECT * FROM step2)
    )
    SELECT CAST(step AS INTEGER) AS step, candidate,
           ROUND(mean_r2, 6) AS mean_r2, chosen
    FROM trace
    """


@register("forward_sel_step", _forward_sel_oracle_sql())
def forward_sel_step(spark, sf_dir):
    """M4 forward selection's per-step bookkeeping as a driver row (the
    first oracle evidence for M4, r03 item 9): two greedy steps over the
    time-feature candidates, every candidate's mean R² from the closed-form
    distributed OLS plus the greedy pick. The oracle replays both steps —
    including the data-dependent step-1 choice — from corr() aggregates."""
    from ningaloo_turtle_etl_spark.stats import forward_select_trace

    ev = load_table(spark, "events", sf_dir).select(
        F.col("value").cast("double").alias("y"),
        F.hour("ts").cast("double").alias("x_hour"),
        F.dayofmonth("ts").cast("double").alias("x_day"),
        F.dayofweek("ts").cast("double").alias("x_dow"),
    )
    return forward_select_trace(ev, ["y"], list(_FWD_CANDS), steps=2)


def _varpart_oracle_sql() -> str:
    """DuckDB SQL replaying variation_partition's three R² fits from corr()
    aggregates: the 2-predictor partial-correlation closed form for R²(X),
    corr² for R²(W), and the explicit 3×3 correlation-matrix inverse
    (cofactors over the determinant) for R²(X∪W) — algebraically identical
    to the 1 − SSE/SST the distributed OLS computes (numpy parity to 8dp
    verified; fractions rounded to 6dp on both sides, `+ 0.0` to normalize
    IEEE negative zero)."""
    return """
    WITH ev AS (
        SELECT CAST(value AS DOUBLE) AS y,
               CAST(hour(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS x1,
               CAST(day(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS x2,
               CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS DOUBLE) AS w1
        FROM events
    ),
    cm AS (
        SELECT corr(y, x1) AS ry1, corr(y, x2) AS ry2, corr(y, w1) AS ryw,
               corr(x1, x2) AS r12, corr(x1, w1) AS r1w, corr(x2, w1) AS r2w
        FROM ev
    ),
    r2s AS (
        SELECT
          (pow(ry1, 2) + pow(ry2, 2) - 2 * ry1 * ry2 * r12)
            / (1 - pow(r12, 2)) AS r2x,
          pow(ryw, 2) AS r2w,
          (  ry1 * ((1 - pow(r2w, 2)) * ry1 + (r1w * r2w - r12) * ry2
                    + (r12 * r2w - r1w) * ryw)
           + ry2 * ((r1w * r2w - r12) * ry1 + (1 - pow(r1w, 2)) * ry2
                    + (r12 * r1w - r2w) * ryw)
           + ryw * ((r12 * r2w - r1w) * ry1 + (r12 * r1w - r2w) * ry2
                    + (1 - pow(r12, 2)) * ryw))
          / (1 + 2 * r12 * r1w * r2w - pow(r12, 2) - pow(r1w, 2) - pow(r2w, 2))
            AS r2xw
        FROM cm
    )
    SELECT fraction, round(value, 6) + 0.0 AS value FROM (
        SELECT 'a_pure_x' AS fraction, r2xw - r2w AS value FROM r2s
        UNION ALL SELECT 'b_shared', r2x + r2w - r2xw FROM r2s
        UNION ALL SELECT 'c_pure_w', r2xw - r2x FROM r2s
        UNION ALL SELECT 'd_unexplained', 1.0 - r2xw FROM r2s
    )
    """


@register("varpart_fractions", _varpart_oracle_sql())
def varpart_fractions(spark, sf_dir):
    """M5 variation partitioning's fraction bookkeeping as a driver row (its
    first oracle evidence, extending the r03 forward_sel_step pattern):
    fractions [a] pure-X, [b] shared, [c] pure-W, [d] unexplained from the
    three distributed OLS R² fits over the time-feature predictor sets
    (`spatial_modelling.Rmd:251-254`). The oracle replays all three fits
    from corr() closed forms, including the 3×3 inverse for R²(X∪W)."""
    from ningaloo_turtle_etl_spark.stats import variation_partition

    ev = load_table(spark, "events", sf_dir).select(
        F.col("value").cast("double").alias("y"),
        F.hour("ts").cast("double").alias("x_hour"),
        F.dayofmonth("ts").cast("double").alias("x_day"),
        F.dayofweek("ts").cast("double").alias("x_dow"),
    )
    vp = variation_partition(ev, ["y"], ["x_hour", "x_day"], ["x_dow"])
    rows = [(k, round(v, 6) + 0.0) for k, v in vp.items()]
    return spark.createDataFrame(rows, "fraction string, value double")
