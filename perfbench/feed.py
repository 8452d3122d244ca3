"""The live track feed (turtle-tracks.Rmd), drained as a stage of the
``etl_batch`` pass.

The feed is a directory of Parquet files, generated from the seed before
the run. File *k* holds the events of hours 8k to 8k+8; ``ts`` is jittered
by hours, so some events arrive late or out of order, and 2% of a file are
redeliveries of the previous file's events.

One drain starts the streaming query ``sources.tables.stream_table_dir`` →
``streaming.tallies.daily_tally`` (watermarked) → ``foreachBatch`` →
``streaming.sinks.upsert_parquet_batch`` keyed on (window_start,
event_type) with trigger ``availableNow``, on a fresh checkpoint and
rollup, and waits until it has consumed every file and stopped.

Check: the rollup equals the batch ``daily_tally`` over every feed file
(the stream≡batch convention of ``scripts/stream_equiv.py``). No event is
later than the 2-day watermark allows, so no window loses data and every
window must match. Redeliveries are tallied on both sides: watermarked
dedup cannot precede the windowed tally on a stream (see README.md, known
defects)."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import dir_bytes

N_FILES = 12
ROWS_PER_FILE = 5_000
EVENT_HOURS_PER_FILE = 8
JITTER_HOURS = 6
DUP_SHARE = 0.02
KEYS = ["window_start", "event_type"]
EVENT_TYPES = ("crawl", "nest", "false_crawl", "body_pit", "hatch")
BASE = np.datetime64("2024-01-01T00:00:00", "us")


def generate(seed: int, work_dir: str) -> dict:
    """Write the feed's files; return the paths a drain uses."""
    rng = np.random.default_rng(seed)
    feed_dir = os.path.join(work_dir, "feed")
    os.makedirs(feed_dir, exist_ok=True)
    n, prev = ROWS_PER_FILE, None
    for k in range(N_FILES):
        offs = rng.uniform(-JITTER_HOURS, EVENT_HOURS_PER_FILE + JITTER_HOURS, n)
        hours = k * EVENT_HOURS_PER_FILE + offs
        cols = {
            "event_id": np.arange(k * n, (k + 1) * n, dtype=np.int64),
            "ts": BASE + (hours * 3600e6).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 5_000, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.random(n) * 100, 2),
        }
        if prev is not None:  # redeliveries: copies of the previous file's events
            n_dup = int(n * DUP_SHARE)
            pick = rng.choice(n, n_dup, replace=False)
            slot = rng.choice(n, n_dup, replace=False)
            for name in cols:
                cols[name][slot] = prev[name][pick]
        prev = cols
        table = pa.table(cols | {"ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC"))})
        pq.write_table(table, os.path.join(feed_dir, f"part-{k:05d}.parquet"))
    return {
        "feed_dir": feed_dir,
        "rollup": os.path.join(work_dir, "rollup"),
        "checkpoint": os.path.join(work_dir, "checkpoint"),
    }


def drain(spark, feed: dict, tracer, sink_bytes: list[int]) -> tuple[list[dict], str]:
    """Run the query over the whole feed until it stops; return the progress
    of its micro-batches and its run id. In a traced run ``sink_bytes`` gets
    the rollup's size after each sink call."""
    from ningaloo_turtle_etl_spark.sources.tables import stream_table_dir
    from ningaloo_turtle_etl_spark.streaming.sinks import upsert_parquet_batch
    from ningaloo_turtle_etl_spark.streaming.tallies import daily_tally

    shutil.rmtree(feed["rollup"], ignore_errors=True)
    shutil.rmtree(feed["checkpoint"], ignore_errors=True)

    def sink(batch_df, batch_id):
        with tracer.span("streaming.sink_upsert"):
            upsert_parquet_batch(batch_df, feed["rollup"], KEYS)
        if tracer.enabled:
            sink_bytes.append(dir_bytes(feed["rollup"]))

    with tracer.span("sources.stream_table_dir"):
        stream = stream_table_dir(spark, feed["feed_dir"], "events")
    query = (
        daily_tally(stream)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", feed["checkpoint"])
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return [json.loads(p.json) for p in query.recentProgress], str(query.runId)


def check(spark, feed: dict) -> list[str]:
    from ningaloo_turtle_etl_spark.sources.files import load_snapshot
    from ningaloo_turtle_etl_spark.streaming.tallies import daily_tally

    def rows(df):
        return {(r["window_start"], r["event_type"]): (r["n"], r["total_value"]) for r in df}

    stream_rows = rows(load_snapshot(spark, feed["rollup"]).collect())
    batch_rows = rows(daily_tally(load_snapshot(spark, feed["feed_dir"])).collect())
    if stream_rows.keys() != batch_rows.keys():
        return [f"feed: rollup windows {len(stream_rows)} != batch windows {len(batch_rows)}"]
    for key, (n, total) in batch_rows.items():
        sn, stotal = stream_rows[key]
        if sn != n or abs(stotal - total) > 1e-6:
            return [f"feed: window {key}: rollup ({sn}, {stotal}) != batch ({n}, {total})"]
    return []
