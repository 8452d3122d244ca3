"""Semantic + physical-plan tests for the time-series additions: gap-fill
resampling (LOCF / linear fill values on a hand-built gap), Markov
transitions, the rolling RANGE window and Benford digit extraction."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from ningaloo_turtle_etl_spark import registry
from ningaloo_turtle_etl_spark.operators.temporal import (
    markov_transitions,
    resample_gap_fill,
)
from tests.conftest import SF_DIR

QUERIES = registry.queries()


def _plan(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_gap_fill_locf_and_linear_values(spark):
    # key a: observed buckets 10 (v=1.0) and 14 (v=9.0); gaps 11-13 must
    # carry locf=1.0 and linear=3,5,7; observed rows echo v_avg exactly.
    rows = [("a", 10 * 86400, 1.0), ("a", 14 * 86400, 9.0), ("b", 5 * 86400, 4.0)]
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    out = resample_gap_fill(df, "k", ts_col="ts", value_col="value").orderBy(
        "k", "bucket"
    )
    got = {(r["k"], r["bucket"]): r for r in out.collect()}
    assert len(got) == 6  # a:10..14 dense + b:5
    assert got[("a", 11)]["v_avg"] is None
    assert got[("a", 11)]["v_locf"] == 1.0
    assert [got[("a", b)]["v_linear"] for b in (10, 11, 12, 13, 14)] == [
        1.0,
        3.0,
        5.0,
        7.0,
        9.0,
    ]
    assert got[("a", 12)]["n_obs"] == 0
    assert got[("b", 5)]["v_linear"] == 4.0  # single-bucket key: no gaps


def test_gap_fill_averages_multiple_obs_per_bucket(spark):
    rows = [("a", 100, 2.0), ("a", 200, 4.0), ("a", 86400 + 100, 10.0)]
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    got = resample_gap_fill(df, "k", ts_col="ts", value_col="value").collect()
    by_bucket = {r["bucket"]: r for r in got}
    assert by_bucket[0]["n_obs"] == 2 and by_bucket[0]["v_avg"] == 3.0
    assert by_bucket[1]["v_avg"] == 10.0


def test_markov_transitions_counts_and_probs(spark):
    rows = [
        (1, 1, "x"), (1, 2, "y"), (1, 3, "x"),
        (2, 1, "x"), (2, 2, "y"),
        (3, 1, "x"), (3, 2, "x"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, event_type string")
    out = markov_transitions(
        df, ts_col="event_id", tiebreak_col=None
    )
    got = {(r["from_state"], r["to_state"]): r for r in out.collect()}
    # from x: ->y twice (u1, u2), ->x once (u3); from y: ->x once (u1).
    assert got[("x", "y")]["n_transitions"] == 2
    assert got[("x", "x")]["n_transitions"] == 1
    assert got[("x", "y")]["prob"] == pytest.approx(2 / 3)
    assert got[("y", "x")]["prob"] == 1.0
    # No cross-user transition (u1's last x never pairs with u2's first x).
    assert sum(r["n_transitions"] for r in got.values()) == 4


def test_gap_fill_grid_join_no_cartesian(spark):
    plan = _plan(spark, "gap_fill_daily_values")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_transition_probs_single_event_shuffle(spark):
    # One user-keyed exchange for the lead window; the from_state
    # normalization window runs over the states^2 aggregate.
    plan = _plan(spark, "event_transition_probs")
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1


def test_rolling_range_window_respects_gaps(spark):
    """RANGE 6-preceding over a gappy day series: the frame is bounded by
    DAY VALUE, so a row after a long gap only sees itself — a ROWS frame
    would wrongly stretch across the gap."""
    from pyspark.sql.window import Window

    rows = [("a", 1, 10.0), ("a", 2, 20.0), ("a", 30, 40.0)]
    df = spark.createDataFrame(rows, "g string, day long, v double")
    w = Window.partitionBy("g").orderBy("day").rangeBetween(-6, Window.currentRow)
    got = {
        r["day"]: r["avg7"]
        for r in df.select("day", F.avg("v").over(w).alias("avg7")).collect()
    }
    assert got[2] == 15.0
    assert got[30] == 40.0  # gap: day 2 is outside RANGE, inside ROWS


def test_benford_digit_extraction_truncates_not_rounds(spark):
    df = spark.createDataFrame([(999.6,), (899.7,), (1.2,)], "v double")
    got = sorted(
        r["d"]
        for r in df.select(
            F.substring(
                F.floor("v").cast("bigint").cast("string"), 1, 1
            ).cast("int").alias("d")
        ).collect()
    )
    # 999.6 → 9 (not 1 via 1000), 899.7 → 8 (not 9 via 900)
    assert got == [1, 8, 9]
