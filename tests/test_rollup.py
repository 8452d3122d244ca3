"""Continuous-aggregate tests: the rollup table holds only closed windows,
maintenance re-runs are idempotent, and rollup ∪ tail equals the full batch
tally."""

from __future__ import annotations

from ningaloo_turtle_etl_spark.sources.tables import load_table, stream_table_dir
from ningaloo_turtle_etl_spark.streaming.rollup import (
    continuous_rollup,
    rollup_with_tail,
)
from ningaloo_turtle_etl_spark.streaming.tallies import daily_tally
from tests.conftest import SF_DIR


def test_continuous_rollup_serves_full_tally(spark, feed_dir, tmp_path):
    rollup_dir = str(tmp_path / "rollup")
    q = continuous_rollup(
        stream_table_dir(spark, feed_dir, "events"), rollup_dir, watermark="2 days",
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    batch = load_table(spark, "events", SF_DIR)
    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in daily_tally(batch).collect()
    }
    rolled = spark.read.parquet(rollup_dir)
    n_rolled = rolled.count()
    assert 0 < n_rolled < len(expected)  # only closed windows in the table

    served = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in rollup_with_tail(spark, rollup_dir, batch).collect()
    }
    assert served == expected  # closed history + recomputed tail = batch


def test_rollup_rerun_is_idempotent(spark, feed_dir, tmp_path):
    rollup_dir = str(tmp_path / "rollup")
    q = continuous_rollup(
        stream_table_dir(spark, feed_dir, "events"), rollup_dir, watermark="2 days"
    )
    q.awaitTermination(120)
    first = sorted(
        (r["window_start"], r["event_type"], r["n"])
        for r in spark.read.parquet(rollup_dir).collect()
    )
    # Fresh query over the same feed (no checkpoint): every batch replays;
    # the merge-on-key sink must absorb it without duplication.
    q2 = continuous_rollup(
        stream_table_dir(spark, feed_dir, "events"), rollup_dir, watermark="2 days"
    )
    q2.awaitTermination(120)
    second = sorted(
        (r["window_start"], r["event_type"], r["n"])
        for r in spark.read.parquet(rollup_dir).collect()
    )
    assert first == second


def test_rollup_with_tail_cold_start_falls_back_to_batch(spark, tmp_path):
    batch = load_table(spark, "events", SF_DIR)
    served = rollup_with_tail(spark, str(tmp_path / "missing"), batch)
    assert served.count() == daily_tally(batch).count()
