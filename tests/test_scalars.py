"""Property/unit tests for the tricky scalar layer (SURVEY.md §5.2)."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
import pytest

from ningaloo_turtle_etl_spark.functions.scalars import (
    parse_date_time,
    patch_where,
    recode_12_to_10,
    restore_southern_sign,
    sanitize_column_names,
    season,
    season_by_isoweek,
)
from ningaloo_turtle_etl_spark.operators.relational import natural_join


def test_season_watershed_total_and_monotone(spark):
    # Every month maps to exactly one season; the season flips exactly at the
    # watershed boundary (ningaloo-etl.Rmd:164-167).
    rows = [(datetime.datetime(2020, m, 15),) for m in range(1, 13)]
    df = spark.createDataFrame(rows, "d timestamp")
    out = {r["d"].month: r["s"] for r in df.select("d", season("d").alias("s")).collect()}
    for m in range(1, 13):
        assert out[m] == (2020 if m > 7 else 2019)


def test_season_by_isoweek_pins_the_reference_formula(spark):
    # isoweek > 27 → calendar year, else year - 1 (wastd-api.Rmd:48-50,67),
    # including the non-monotone step at New Year: ISO week 53 of 2020 runs
    # into January 2021 with the new calendar year, and week 1 steps back.
    cases = {
        datetime.date(2020, 7, 5): 2019,  # ISO week 27
        datetime.date(2020, 7, 6): 2020,  # week 28
        datetime.date(2020, 12, 31): 2020,  # week 53
        datetime.date(2021, 1, 1): 2021,  # week 53, new calendar year
        datetime.date(2021, 1, 4): 2020,  # week 1
    }
    df = spark.createDataFrame([(d,) for d in cases], "d date")
    got = {
        r["d"]: (r["w"], r["s"])
        for r in df.select(
            "d", F.weekofyear("d").alias("w"), season_by_isoweek("d").alias("s")
        ).collect()
    }
    assert {d: w for d, (w, _) in got.items()} == {
        d: d.isocalendar()[1] for d in cases
    }
    assert {d: s for d, (_, s) in got.items()} == cases


def test_parse_date_time_order_precedence(spark):
    df = spark.createDataFrame(
        [("2021-03-04 05:06:07",), ("03/04/2021 05:06:07",), ("2021-03-04",), ("garbage",)],
        "raw string",
    )
    parsed = df.select(
        parse_date_time(
            "raw", ["yyyy-MM-dd HH:mm:ss", "MM/dd/yyyy HH:mm:ss", "yyyy-MM-dd"]
        ).alias("ts")
    ).collect()
    assert parsed[0]["ts"] == datetime.datetime(2021, 3, 4, 5, 6, 7)
    assert parsed[1]["ts"] == datetime.datetime(2021, 3, 4, 5, 6, 7)
    assert parsed[2]["ts"] == datetime.datetime(2021, 3, 4)
    assert parsed[3]["ts"] is None


def test_parse_date_time_r_orders(spark):
    df = spark.createDataFrame([("5/6/2019 1:2:3",)], "raw string")
    out = df.select(parse_date_time("raw", ["mdyHMS"]).alias("ts")).collect()[0]["ts"]
    assert out == datetime.datetime(2019, 5, 6, 1, 2, 3)


def test_recode_and_sign(spark):
    df = spark.createDataFrame([(1, 21.9), (2, 22.1), (None, None)], "b int, lat double")
    got = df.select(
        recode_12_to_10("b").alias("b"), restore_southern_sign("lat").alias("lat")
    ).collect()
    assert [r["b"] for r in got] == [1, 0, None]
    assert got[0]["lat"] == -21.9 and got[1]["lat"] == -22.1


def test_patch_where_preserves_unmatched(spark):
    # ningaloo-etl.Rmd:83-84 — the Red Bluff bbox patch must not disturb any
    # other row.
    df = spark.createDataFrame(
        [("Red Bluff", 113.0), ("Other", 114.5)], "subsection string, x_max double"
    )
    out = patch_where(df, F.col("subsection") == "Red Bluff", x_max=F.lit(113.458))
    got = {r["subsection"]: r["x_max"] for r in out.collect()}
    assert got == {"Red Bluff": 113.458, "Other": 114.5}


def test_sanitize_column_names(spark):
    # '*' is stripped (not replaced) before separators become '_', matching
    # the feed-header repair in turtle-tracks.Rmd:37-39.
    df = spark.createDataFrame([(1, 2, 3)], ["meta-instance-id*", "GPS lat", "a:b"])
    assert sanitize_column_names(df).columns == ["meta_instance_id", "gps_lat", "a_b"]


def test_natural_join_requires_shared_columns(spark):
    a = spark.createDataFrame([(1,)], "x bigint")
    b = spark.createDataFrame([(1,)], "y bigint")
    with pytest.raises(ValueError):
        natural_join(a, b)


def test_pivot_rowsum_preservation(spark):
    # A3 property: sum of wide cells == long count (SURVEY §5.2).
    from ningaloo_turtle_etl_spark.operators.relational import count_pivot
    from ningaloo_turtle_etl_spark.sources.tables import load_table

    from tests.conftest import SF_DIR

    ev = load_table(spark, "events", SF_DIR)
    wide = count_pivot(
        ev, ["user_id"], "event_type", values=("click", "error", "purchase", "signup", "view")
    )
    cell_sum = wide.select(
        sum(F.sum(c) for c in wide.columns if c != "user_id").alias("s")
    ).collect()[0]["s"]
    assert cell_sum == ev.count()
