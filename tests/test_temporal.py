"""Temporal-join operator tests: as-of edge cases (tie at equal ts,
before-first-match NULLs, name collisions) and the range join's hash-join
plan guarantee."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.operators.temporal import asof_join, range_join


def _ts(h, m=0):
    return datetime.datetime(2020, 1, 1, h, m)


def test_asof_backward_inclusive_and_null_before_first(spark):
    left = spark.createDataFrame(
        [(1, _ts(8)), (1, _ts(10)), (1, _ts(10, 30)), (2, _ts(12))],
        "k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts(9), 1.0), (1, _ts(10), 2.0), (2, _ts(12), 9.0)],
        "k long, ts timestamp, rate double",
    )
    out = {
        (r["k"], r["ts"]): (r["rate"], r["_matched_time"])
        for r in asof_join(left, right, on="k").collect()
    }
    assert out[(1, _ts(8))] == (None, None)  # before first right row
    assert out[(1, _ts(10))] == (2.0, _ts(10))  # equal ts matches (inclusive)
    assert out[(1, _ts(10, 30))] == (2.0, _ts(10))  # latest earlier
    assert out[(2, _ts(12))] == (9.0, _ts(12))  # keys independent


def test_asof_suffixes_colliding_payload_names(spark):
    left = spark.createDataFrame([(1, _ts(10), "L")], "k long, ts timestamp, v string")
    right = spark.createDataFrame([(1, _ts(9), "R")], "k long, ts timestamp, v string")
    row = asof_join(left, right, on="k").collect()[0]
    assert row["v"] == "L" and row["v_r"] == "R"


def test_range_join_half_open_and_multi_bucket(spark):
    left = spark.createDataFrame(
        [(1, _ts(8)), (1, datetime.datetime(2020, 1, 2, 23)), (1, _ts(6))],
        "k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts(8), datetime.datetime(2020, 1, 3, 0))],  # spans 2+ day-buckets
        "k long, start timestamp, end timestamp",
    )
    got = sorted(
        r["ts"] for r in range_join(left, right, on="k").collect()
    )
    # 06:00 is before start; 08:00 matches (inclusive start); Jan 2 23:00
    # matches through the second bucket; end is exclusive.
    assert got == [_ts(8), datetime.datetime(2020, 1, 2, 23)]


def test_range_join_auto_bucket_matches_fixed(spark):
    left = spark.range(500).select(
        (F.col("id") % 3).alias("k"),
        F.timestamp_seconds(F.col("id") * 7200).alias("ts"),
    )
    right = spark.range(10).select(
        (F.col("id") % 3).alias("k"),
        F.timestamp_seconds(F.col("id") * 100000).alias("start"),
        F.timestamp_seconds(F.col("id") * 100000 + 50000).alias("end"),
    )
    fixed = sorted(
        (r["k"], r["ts"], r["start"])
        for r in range_join(left, right, on="k", bucket_seconds=3600).collect()
    )
    auto = sorted(
        (r["k"], r["ts"], r["start"])
        for r in range_join(left, right, on="k", bucket_seconds="auto").collect()
    )
    assert auto == fixed and len(auto) > 0


def test_range_join_plans_as_hash_join_not_nested_loop(spark):
    left = spark.range(1000).select(
        (F.col("id") % 7).alias("k"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
    )
    right = spark.range(20).select(
        (F.col("id") % 7).alias("k"),
        F.timestamp_seconds(F.col("id") * 86400).alias("start"),
        F.timestamp_seconds(F.col("id") * 86400 + 7200).alias("end"),
    )
    df = range_join(left, right, on="k")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_asof_directions_match_pandas_merge_asof(spark):
    """backward/forward/nearest (± tolerance) against pandas.merge_asof as
    an independent reference, on numeric times with no exact-tie distances
    (tie policy differs between libraries and is documented, not contracted)."""
    import numpy as np
    import pandas as pd

    from ningaloo_turtle_etl_spark.operators.temporal import asof_join

    rng = np.random.RandomState(7)
    # Odd left times, even right times → |lt-rt| never ties between sides.
    left_pd = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], 60),
            "t": np.sort(rng.choice(np.arange(1, 401, 2), 60, replace=False)).astype("int64"),
        }
    )
    right_pd = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], 40),
            "t": np.sort(rng.choice(np.arange(0, 402, 2), 40, replace=False)).astype("int64"),
            "v": np.arange(40).astype("float64"),
        }
    )
    ldf = spark.createDataFrame(left_pd.assign(rowid=np.arange(60)))
    rdf = spark.createDataFrame(right_pd)

    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 20):
            expect = pd.merge_asof(
                left_pd.assign(rowid=np.arange(60)).sort_values("t"),
                right_pd.sort_values("t"),
                on="t",
                by="k",
                direction=direction,
                tolerance=tol,
            ).set_index("rowid")["v"]
            got_rows = asof_join(
                ldf, rdf, on="k", left_time="t", right_time="t",
                direction=direction, tolerance_seconds=tol,
            ).collect()
            got = {r["rowid"]: r["v"] for r in got_rows}
            assert len(got_rows) == 60  # left join: every left row survives
            for rowid, v in expect.items():
                g = got[rowid]
                if pd.isna(v):
                    assert g is None, (direction, tol, rowid)
                else:
                    assert g == v, (direction, tol, rowid, g, v)


def test_asof_join_null_payload_does_not_mix_rows(spark):
    # Regression (r04 review, confirmed): carrying payload columns
    # independently with ignorenulls skipped a genuine NULL in one column
    # and stitched values from DIFFERENT right rows. The match must be the
    # ts=20 row verbatim: a=NULL, b=8 — never a=100 from ts=10.
    from ningaloo_turtle_etl_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 30)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 10, 100, 7), (1, 20, None, 8)], "k long, ts long, a int, b int"
    )
    row = asof_join(left, right, on="k", direction="backward").collect()[0]
    assert row["_matched_time"] == 20
    assert row["a"] is None and row["b"] == 8


def test_asof_join_null_left_time_never_matches(spark):
    # Regression (r04 review, confirmed): a NULL left timestamp picked up
    # the earliest right row in 'forward' (NULLs sort first). All
    # directions must return NULL payload, matching merge_asof/DuckDB.
    from ningaloo_turtle_etl_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, None)], "k long, ts long")
    right = spark.createDataFrame([(1, 50, 9)], "k long, ts long, v int")
    for direction in ("backward", "forward", "nearest"):
        row = asof_join(left, right, on="k", direction=direction).collect()[0]
        assert row["v"] is None and row["_matched_time"] is None, direction


def test_asof_join_ignores_null_right_times(spark):
    # A right row with a NULL timestamp can never match and must not shadow
    # an earlier valid match.
    from ningaloo_turtle_etl_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 30)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 10, 5), (1, None, 6)], "k long, ts long, v int"
    )
    row = asof_join(left, right, on="k", direction="backward").collect()[0]
    assert row["v"] == 5 and row["_matched_time"] == 10


def test_range_join_survives_inverted_interval(spark):
    # Regression (r04 review): one corrupt interval with end < start used
    # to feed F.sequence a descending range (default step -1) and explode
    # a gigantic bucket array. It must simply be dropped.
    from ningaloo_turtle_etl_spark.operators.temporal import range_join

    left = spark.createDataFrame([(1, 100)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 50, 150, "good"), (1, 1_700_000_000, 0, "corrupt")],
        "k long, start long, end long, tag string",
    )
    rows = range_join(left, right, on="k", bucket_seconds=60).collect()
    assert [r["tag"] for r in rows] == ["good"]


def test_last_touch_attribution_tolerance_and_direction(spark):
    """Purchase credits the latest preceding touch; a touch outside the
    lookback leaves the purchase unattributed; later touches never get
    credit."""
    from datetime import datetime

    from ningaloo_turtle_etl_spark.operators.temporal import asof_join

    t = lambda d, h=0: datetime(2025, 1, d, h)
    purchases = spark.createDataFrame(
        [(1, t(10)), (2, t(20)), (3, t(5))],
        "user_id long, ts timestamp",
    )
    touches = spark.createDataFrame(
        [
            (1, t(9), "click"),    # 1 day before → attributed
            (1, t(9, 12), "view"), # later same-day touch wins (latest)
            (2, t(1), "click"),    # 19 days before → outside 7d window
            (3, t(6), "view"),     # AFTER the purchase → never credited
        ],
        "user_id long, tts timestamp, touch_type string",
    )
    out = {
        r["user_id"]: r["touch_type"]
        for r in asof_join(
            purchases, touches, on="user_id",
            left_time="ts", right_time="tts",
            right_cols=["touch_type"], tolerance_seconds=7 * 86400,
        ).collect()
    }
    assert out == {1: "view", 2: None, 3: None}


def test_sessionize_gap_policy(spark):
    import datetime as dt

    from ningaloo_turtle_etl_spark.operators.temporal import (
        session_stats,
        sessionize,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(i, uid, offset_s):
        return (i, uid, t0 + dt.timedelta(seconds=offset_s))

    rows = [
        ev(1, 1, 0),
        ev(2, 1, 1800),   # gap == threshold: same session (> splits)
        ev(3, 1, 3601),   # 1801s after prev -> new session
        ev(4, 1, 3602),
        ev(5, 2, 0),      # other key starts at 1 independently
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(df, "user_id", "ts", 1800, "event_id").collect()
    }
    assert out == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}
    stats = {
        (r["user_id"], r["session_seq"]): r
        for r in session_stats(df, "user_id", "ts", 1800, "event_id").collect()
    }
    assert stats[(1, 1)]["n_events"] == 2
    assert stats[(1, 1)]["duration_s"] == 1800
    assert stats[(1, 2)]["duration_s"] == 1
    assert stats[(2, 1)]["n_events"] == 1 and stats[(2, 1)]["duration_s"] == 0


def test_cdc_apply_merge_semantics(spark):
    import datetime as dt

    from ningaloo_turtle_etl_spark.operators.delta import cdc_apply

    snap = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (4, 40.0)],
        "key long, state_value double",
    )
    t0 = dt.datetime(2024, 1, 1)

    def chg(key, off, op, val, eid):
        return (key, t0 + dt.timedelta(seconds=off), eid, op, val)

    changes = spark.createDataFrame(
        [
            chg(1, 0, "upsert", 11.0, 1),   # overwritten by later change
            chg(1, 5, "upsert", 12.0, 2),   # latest wins
            chg(2, 0, "delete", None, 3),   # delete existing
            chg(5, 0, "upsert", 50.0, 4),   # insert unseen key
            chg(6, 0, "delete", None, 5),   # delete nonexistent: no-op
            chg(4, 0, "upsert", None, 6),   # upsert to NULL payload
        ],
        "key long, ts timestamp, event_id long, op string, state_value double",
    )
    out = {
        r["key"]: r["state_value"]
        for r in cdc_apply(snap, changes, ["key"], "ts", tiebreak_col="event_id").collect()
    }
    # key 3 (NULL payload, untouched) must survive the merge
    assert out == {1: 12.0, 3: None, 4: None, 5: 50.0}
    # same-timestamp changes: tiebreak column elects the higher event_id
    tie = spark.createDataFrame(
        [chg(1, 0, "upsert", 1.0, 1), chg(1, 0, "upsert", 2.0, 9)],
        "key long, ts timestamp, event_id long, op string, state_value double",
    )
    out2 = {
        r["key"]: r["state_value"]
        for r in cdc_apply(snap, tie, ["key"], "ts", tiebreak_col="event_id").collect()
    }
    assert out2[1] == 2.0


def test_cdc_apply_carries_non_feed_columns(spark):
    """Snapshot columns the change feed doesn't carry must pass through
    unchanged (NULL only for feed-inserted keys the snapshot never had)."""
    import datetime as dt

    from ningaloo_turtle_etl_spark.operators.delta import cdc_apply

    snap = spark.createDataFrame(
        [(1, 10.0, "au"), (2, 20.0, "nz"), (3, 30.0, "au")],
        "key long, state_value double, region string",
    )
    t0 = dt.datetime(2024, 1, 1)
    changes = spark.createDataFrame(
        [
            (1, t0, 1, "upsert", 11.0),   # update: region must survive
            (2, t0, 2, "delete", None),   # delete
            (9, t0, 3, "upsert", 90.0),   # insert: region unknowable -> NULL
        ],
        "key long, ts timestamp, event_id long, op string, state_value double",
    )
    out = cdc_apply(snap, changes, ["key"], "ts", tiebreak_col="event_id")
    assert set(out.columns) == {"key", "state_value", "region"}
    rows = {r["key"]: (r["state_value"], r["region"]) for r in out.collect()}
    assert rows == {1: (11.0, "au"), 3: (30.0, "au"), 9: (90.0, None)}


def test_frequent_sequences_trigram_tally(spark):
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators.temporal import (
        frequent_sequences,
    )

    rows = [("u1", i, t) for i, t in enumerate("abcabc")] + [
        ("u2", i, t) for i, t in enumerate("abc")
    ]
    df = spark.createDataFrame(rows, "uid string, seq long, typ string")
    df = df.select("uid", F.col("seq").alias("ts"), "typ", F.col("seq").alias("eid"))
    out = frequent_sequences(df, "uid", "ts", "typ", order_tiebreak="eid",
                             top_k=10).collect()
    tally = {(r["step_1"], r["step_2"], r["step_3"]): r["n_occurrences"]
             for r in out}
    # u1 yields abc,bca,cab,abc; u2 adds abc -> 3 total; no cross-user bleed
    assert tally[("a", "b", "c")] == 3
    assert tally[("b", "c", "a")] == 1 and tally[("c", "a", "b")] == 1
    assert out[0]["n_occurrences"] == 3  # ranked first


def test_hmm_forward_loglik_reference(spark):
    """HMM forward pins: exact agreement with a Python replay of the
    unrolled 2-state recursion on a known sequence, and users with
    fewer than `steps` events are excluded."""
    import math

    from ningaloo_turtle_etl_spark.operators.temporal import (
        HMM_E, HMM_PI, HMM_T, hmm_forward_loglik,
    )

    seq = ["view", "click", "purchase", "view"]
    rows = [(1, t, i) for i, t in enumerate(seq)]
    rows += [(2, "view", 0), (2, "click", 1)]  # too short -> excluded
    df = spark.createDataFrame(rows, "u long, x string, o long")
    out = hmm_forward_loglik(df, "u", "x", ["o"], steps=4).collect()
    assert len(out) == 1

    a = [HMM_PI[0] * HMM_E[seq[0]][0], HMM_PI[1] * HMM_E[seq[0]][1]]
    for x in seq[1:]:
        a = [
            (a[0] * HMM_T[0][0] + a[1] * HMM_T[1][0]) * HMM_E[x][0],
            (a[0] * HMM_T[0][1] + a[1] * HMM_T[1][1]) * HMM_E[x][1],
        ]
    ll = round(math.log(a[0] + a[1]) * 1e6)
    r = out[0]
    assert r["first_type"] == "view"
    assert r["n_users"] == 1
    assert r["avg_loglik"] == round(ll / 1e6 / 1, 6)
