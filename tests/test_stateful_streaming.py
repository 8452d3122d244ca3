"""applyInPandasWithState custom stateful operator test (first-seen dedup)."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.streaming.stateful import first_seen_dedup_stream
from ningaloo_turtle_etl_spark.streaming.tallies import read_stream_dir
from tests.conftest import SF_DIR


def test_first_seen_dedup_emits_once_per_key(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", feed / "p0.parquet")

    raw = read_stream_dir(
        spark,
        str(feed),
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    q = (
        first_seen_dedup_stream(raw, key_col="event_type")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("first_seen_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["key"]: (r["first_event_id"], r["n_events"])
        for r in spark.sql("SELECT * FROM first_seen_test").collect()
    }

    # One emission per distinct event_type, carrying the minimum event id
    # and the batch's count for that key.
    from ningaloo_turtle_etl_spark.sources.tables import load_table

    batch = load_table(spark, "events", SF_DIR)
    expected = {
        r["event_type"]: (r["first_id"], r["n"])
        for r in batch.groupBy("event_type")
        .agg(F.min("event_id").alias("first_id"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


def test_space_saving_update_exact_without_eviction():
    from ningaloo_turtle_etl_spark.streaming.stateful import _space_saving_update

    s = {}
    _space_saving_update(s, {"a": 5, "b": 2}, capacity=4)
    _space_saving_update(s, {"a": 1, "c": 3}, capacity=4)
    assert s == {"a": [6, 0], "b": [2, 0], "c": [3, 0]}


def test_space_saving_eviction_inherits_min_count():
    from ningaloo_turtle_etl_spark.streaming.stateful import _space_saving_update

    s = {}
    _space_saving_update(s, {"a": 10, "b": 1}, capacity=2)
    # capacity full; "c" evicts min entry b (count 1): est = 1+4, err = 1
    _space_saving_update(s, {"c": 4}, capacity=2)
    assert s == {"a": [10, 0], "c": [5, 1]}
    # overestimate is bounded: true(c)=4 <= est=5 <= true+err
    assert 4 <= s["c"][0] <= 4 + s["c"][1]


def test_space_saving_eviction_is_deterministic_on_ties():
    from ningaloo_turtle_etl_spark.streaming.stateful import _space_saving_update

    s = {}
    _space_saving_update(s, {"x": 3, "y": 3}, capacity=2)
    _space_saving_update(s, {"z": 1}, capacity=2)
    # tie between x and y at count 3: lexicographically first (x) evicts
    assert "x" not in s and s["z"] == [4, 3] and s["y"] == [3, 0]


def test_heavy_hitters_stream_exact_in_no_eviction_regime(spark, tmp_path):
    import shutil as _sh

    from ningaloo_turtle_etl_spark.streaming.stateful import (
        heavy_hitters_batch,
        heavy_hitters_stream,
    )

    feed = tmp_path / "hh_feed"
    feed.mkdir()
    _sh.copy(f"{SF_DIR}/events.parquet", feed / "p0.parquet")
    raw = read_stream_dir(
        spark,
        str(feed),
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    q = (
        heavy_hitters_stream(raw, item_col="user_id", capacity=4096, shards=4)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("hh_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["shard"], r["item"]): (r["est_count"], r["max_err"])
        for r in spark.sql("SELECT * FROM hh_test").collect()
    }
    from ningaloo_turtle_etl_spark.sources.tables import load_table

    expected = {
        (r["shard"], r["item"]): (r["est_count"], r["max_err"])
        for r in heavy_hitters_batch(
            load_table(spark, "events", SF_DIR), "user_id", shards=4
        ).collect()
    }
    assert got == expected
