"""Structured Streaming tests — ST1/ST3/ST4/ST6/ST7 driven through real
streaming queries over a file-source directory (the append-only feed shape)."""

from __future__ import annotations

import shutil

import pytest

from ningaloo_turtle_etl_spark.sources.tables import load_table, stream_table_dir
from ningaloo_turtle_etl_spark.streaming.sinks import foreach_batch_upserter
from ningaloo_turtle_etl_spark.streaming.tallies import (
    complete_tally_query,
    daily_tally,
)
from tests.conftest import SF_DIR


def test_streaming_daily_tally_matches_batch(spark, feed_dir):
    """ST3: the streaming daily tally over the feed equals the batch plan on
    the same data (one code path, two execution modes)."""
    batch = load_table(spark, "events", SF_DIR)
    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in daily_tally(batch).collect()
    }

    # The stream goes through the same conditional schema repair as the
    # batch loader (stream_table_dir) — plan parity for either testdata shape.
    stream = stream_table_dir(spark, feed_dir, "events")
    q = (
        daily_tally(stream, watermark="10 days")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("daily_tally_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM daily_tally_test").collect()
    }
    assert got == expected


def test_complete_mode_dashboard_tally(spark, feed_dir):
    """ST6: the app.R reactive re-tally as a complete-mode in-memory agg."""
    stream = stream_table_dir(spark, feed_dir, "events")
    q = complete_tally_query(stream, ("event_type",), "dashboard_tally_test")
    try:
        q.processAllAvailable()
        got = {
            r["event_type"]: r["n"]
            for r in spark.sql("SELECT * FROM dashboard_tally_test").collect()
        }
        batch = load_table(spark, "events", SF_DIR).groupBy("event_type").count()
        expected = {r["event_type"]: r["count"] for r in batch.collect()}
        assert got == expected
    finally:
        q.stop()


def test_streaming_session_tally_matches_batch(spark, feed_dir):
    """Session windows on a stream (state-merging, watermark-bounded) equal
    the batch plan on the same data."""
    from ningaloo_turtle_etl_spark.streaming.tallies import session_tally

    batch = load_table(spark, "events", SF_DIR)
    expected = {
        (r["session_start"], r["user_id"]): (r["session_end"], r["n"])
        for r in session_tally(batch, keys=("user_id",), gap="6 hours").collect()
    }
    assert expected  # fixture has sessions

    stream = stream_table_dir(spark, feed_dir, "events")
    q = (
        session_tally(stream, keys=("user_id",), gap="6 hours", watermark="10 days")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("session_tally_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["session_start"], r["user_id"]): (r["session_end"], r["n"])
        for r in spark.sql("SELECT * FROM session_tally_test").collect()
    }
    assert got == expected


def test_watermarked_dedup_drops_redelivered_rows(spark, tmp_path):
    """At-least-once delivery: the same file lands in the feed twice; the
    watermark-bounded streaming dedup must emit each event_id exactly once,
    equal to the batch dropDuplicates result."""
    from ningaloo_turtle_etl_spark.streaming.tallies import watermarked_dedup

    d = tmp_path / "dupfeed"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-001.parquet")  # redelivery

    batch = load_table(spark, "events", SF_DIR)
    expected = {
        r["event_id"]: (r["ts"], r["event_type"], r["value"])
        for r in watermarked_dedup(batch).collect()  # batch path: dropDuplicates
    }

    stream = stream_table_dir(spark, str(d), "events")
    q = (
        watermarked_dedup(stream, watermark="40 days")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: (r["ts"], r["event_type"], r["value"])
        for r in spark.sql("SELECT * FROM dedup_stream_test").collect()
    }
    assert len(got) == len(expected)  # exactly once per id, not twice
    assert got == expected


def test_foreach_batch_upsert_idempotent(spark, tmp_path):
    """ST7: EntryBatchProcess re-runnability — same batch twice is a no-op;
    a changed record with the same key replaces the old version."""
    target = str(tmp_path / "target")
    upsert = foreach_batch_upserter(target, ["id"])

    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    upsert(b1, 0)
    upsert(b1, 0)  # re-run: idempotent
    assert sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(target).collect()
    ) == [(1, "a"), (2, "b")]

    b2 = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    upsert(b2, 1)
    assert sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(target).collect()
    ) == [(1, "a"), (2, "B"), (3, "c")]


def test_upsert_survives_crash_mid_swap(spark, tmp_path, monkeypatch):
    """A crash after the old rollup version has left its path but before the
    new one is in place loses nothing: the retried batch merges onto the old
    version."""
    import os

    target = str(tmp_path / "target")
    upsert = foreach_batch_upserter(target, ["id"])
    upsert(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), 0)

    real_replace = os.replace

    def crash_installing_new_version(src, dst):
        if os.path.abspath(dst) == target:
            raise OSError("simulated crash")
        real_replace(src, dst)

    b1 = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    monkeypatch.setattr(os, "replace", crash_installing_new_version)
    with pytest.raises(OSError, match="simulated crash"):
        upsert(b1, 1)
    monkeypatch.undo()

    upsert(b1, 1)  # the restarted query retries the batch
    assert sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(target).collect()
    ) == [(1, "a"), (2, "B"), (3, "c")]


def _write_feed_files(feed_dir, first: int, n_files: int, rows: int = 500) -> None:
    """Feed files ``first`` … ``first + n_files - 1``: file k holds events of
    hours 8k to 8k+8, jittered by up to 6 hours either way (late and
    out-of-order arrivals); integral values keep the sums exact."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(first)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    for k in range(first, first + n_files):
        hours = k * 8 + rng.uniform(-6, 14, rows)
        table = pa.table(
            {
                "event_id": np.arange(k * rows, (k + 1) * rows, dtype=np.int64),
                "ts": pa.array(
                    base + (hours * 3600e6).astype("timedelta64[us]"),
                    pa.timestamp("us", tz="UTC"),
                ),
                "user_id": rng.integers(0, 100, rows).astype(np.int64),
                "event_type": np.array(["crawl", "nest", "hatch"])[rng.integers(0, 3, rows)],
                "value": rng.integers(0, 100, rows).astype(np.float64),
            }
        )
        pq.write_table(table, str(feed_dir / f"part-{k:05d}.parquet"))


def test_rollup_resumes_from_checkpoint_across_drains(spark, tmp_path):
    """The feed's shape end to end: an availableNow drain through the
    watermarked tally into the upsert sink, then more files and a second
    drain from the same checkpoint. Each drain ends with a no-data batch
    (the watermark advance); after each drain the rollup equals the batch
    tally of every file so far."""
    feed_dir, rollup, checkpoint = tmp_path / "feed", str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    feed_dir.mkdir()
    keys = ["window_start", "event_type"]

    def rows(df):
        return {(r["window_start"], r["event_type"]): (r["n"], r["total_value"]) for r in df.collect()}

    for first in (0, 6):
        _write_feed_files(feed_dir, first, 6)
        q = (
            daily_tally(stream_table_dir(spark, str(feed_dir), "events"))
            .writeStream.outputMode("update")
            .foreachBatch(foreach_batch_upserter(rollup, keys))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        assert q.exception() is None
        assert q.recentProgress[-1].numInputRows == 0  # the no-data batch ran
        expected = rows(daily_tally(spark.read.parquet(str(feed_dir))))
        assert rows(spark.read.parquet(rollup)) == expected


def test_watermark_append_mode_emits_closed_windows(spark, feed_dir):
    """ST4: append mode + watermark — only windows the watermark has passed
    are emitted; the tail stays in state (late data would still be merged)."""
    import pyspark.sql.functions as F

    stream = stream_table_dir(spark, feed_dir, "events")
    q = (
        daily_tally(stream, watermark="2 days")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("append_tally_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql(
        "SELECT DISTINCT window_start FROM append_tally_test"
    ).count()
    total = (
        load_table(spark, "events", SF_DIR)
        .select(F.date_trunc("day", "ts"))
        .distinct()
        .count()
    )
    assert 0 < emitted < total  # closed windows out, open tail retained


def test_streaming_hopping_tally_matches_batch(spark, feed_dir):
    """Hopping 1h/30min windows: every event lands in exactly 2 windows,
    and the streaming run over the feed equals the batch plan."""
    from ningaloo_turtle_etl_spark.streaming.tallies import hopping_tally

    batch = load_table(spark, "events", SF_DIR)
    rows = hopping_tally(batch).collect()
    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in rows
    }
    assert sum(n for n, _ in expected.values()) == 2 * batch.count()

    stream = stream_table_dir(spark, feed_dir, "events")
    q = (
        hopping_tally(stream, watermark="40 days")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("hopping_tally_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM hopping_tally_test").collect()
    }
    assert got == expected
