"""Machine-checked batch≡stream evidence for the streaming layer (ST3 / ST6
/ ST7 + session windows) — the equality a DuckDB oracle cannot express
(it cannot run a stream).

For each check the SAME logical plan runs twice over the SAME events data:
once as a batch DataFrame, once as an availableNow Structured Streaming
query over a file-source feed directory. The collected results are compared
exactly (sorted row tuples). Writes a driver-style JSON artifact.

Usage: python scripts/stream_equiv.py [--sf /root/testdata/sf0.01]
       [--json STREAM_EQUIV.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    from ningaloo_turtle_etl_spark.session import get_spark
    from ningaloo_turtle_etl_spark.sources.tables import load_table, stream_table_dir
    from ningaloo_turtle_etl_spark.streaming.rollup import (
        continuous_rollup,
        rollup_with_tail,
    )
    from ningaloo_turtle_etl_spark.streaming.tallies import (
        daily_tally,
        enrich_with_dimension,
        interval_self_join,
        session_tally,
    )

    spark = get_spark("stream-equiv", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="stream_equiv_")
    feed = os.path.join(tmp, "feed")
    os.mkdir(feed)
    shutil.copy(f"{args.sf}/events.parquet", os.path.join(feed, "part-000.parquet"))

    batch = load_table(spark, "events", args.sf)
    report: dict[str, dict] = {}
    failed = []

    def run_stream(df, name, mode="complete"):
        q = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.table(name)

    def check(name, batch_df, stream_df, cols):
        t0 = time.time()
        b, s = _rows(batch_df, cols), _rows(stream_df, cols)
        rec = {
            "batch_rows": len(b),
            "stream_rows": len(s),
            "rows_match": len(b) == len(s),
            "values_match": b == s,
            "err": None,
        }
        report[name] = rec
        ok = rec["values_match"]
        if not ok:
            failed.append(name)
        print(f"{name}: {'OK' if ok else 'MISMATCH'} "
              f"{len(s)} rows ({time.time()-t0:.1f}s)")

    stream = stream_table_dir(spark, feed, "events")

    # ST3: tumbling daily tally, complete mode ≡ batch plan.
    cols = ["window_start", "event_type", "n", "total_value"]
    check(
        "st3_daily_tally",
        daily_tally(batch),
        run_stream(daily_tally(stream, watermark="40 days"), "se_daily"),
        cols,
    )

    # Hopping 1h/30min windows: the Expand-generated overlap is the same
    # plan batch or stream; complete mode ≡ batch.
    from ningaloo_turtle_etl_spark.streaming.tallies import hopping_tally

    check(
        "hopping_window_tally",
        hopping_tally(batch),
        run_stream(hopping_tally(stream, watermark="40 days"), "se_hopping"),
        cols,
    )

    # Session windows: state-merging gap sessions ≡ batch plan.
    scols = ["session_start", "session_end", "user_id", "n"]
    check(
        "session_tally",
        session_tally(batch, keys=("user_id",), gap="6 hours"),
        run_stream(
            session_tally(stream, keys=("user_id",), gap="6 hours", watermark="40 days"),
            "se_session",
        ),
        scols,
    )

    # ST6: complete-mode dashboard tally ≡ batch groupBy.
    import pyspark.sql.functions as F

    check(
        "st6_complete_tally",
        batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        run_stream(
            stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
            "se_complete",
        ),
        ["event_type", "n"],
    )

    # Stream-static enrichment: per-batch broadcast join against a static
    # dimension ≡ the batch join.
    import pyspark.sql.functions as F  # noqa: F811

    dim = (
        batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_events"))
    )
    enrich_cols = ["event_id", "user_id", "user_events"]
    check(
        "stream_static_enrich",
        enrich_with_dimension(batch.select("event_id", "user_id"), dim, "user_id"),
        run_stream(
            enrich_with_dimension(stream.select("event_id", "user_id"), dim, "user_id"),
            "se_enrich",
            mode="append",
        ),
        enrich_cols,
    )

    # Watermarked stream-stream inner join (purchases × preceding clicks
    # within 1 day per user) ≡ the identical batch conditional join.
    ssj_cols = ["user_id", "l_ts", "l_event_id", "r_ts", "r_event_id"]
    check(
        "stream_stream_interval_join",
        interval_self_join(batch, "purchase", "click"),
        run_stream(
            interval_self_join(stream, "purchase", "click", watermark="40 days"),
            "se_ssjoin",
            mode="append",
        ),
        ssj_cols,
    )

    # Watermark-bounded streaming dedup over a feed with a redelivered file
    # ≡ batch dropDuplicates on the original data (at-least-once → exactly
    # once per key).
    from ningaloo_turtle_etl_spark.streaming.tallies import watermarked_dedup

    dupfeed = os.path.join(tmp, "dupfeed")
    os.mkdir(dupfeed)
    shutil.copy(f"{args.sf}/events.parquet", os.path.join(dupfeed, "part-000.parquet"))
    shutil.copy(f"{args.sf}/events.parquet", os.path.join(dupfeed, "part-001.parquet"))
    dupstream = stream_table_dir(spark, dupfeed, "events")
    check(
        "watermarked_dedup",
        watermarked_dedup(batch),
        run_stream(
            watermarked_dedup(dupstream, watermark="40 days"), "se_dedup", mode="append"
        ),
        ["event_id", "ts", "event_type", "value"],
    )

    # ST7 + rollup: closed windows maintained incrementally via the
    # idempotent merge sink, open tail recomputed — union ≡ full batch tally.
    rollup_dir = os.path.join(tmp, "rollup")
    q = continuous_rollup(stream, rollup_dir, watermark="2 days",
                          checkpoint=os.path.join(tmp, "ckpt"))
    q.awaitTermination(300)
    check(
        "st7_rollup_with_tail",
        daily_tally(batch),
        rollup_with_tail(spark, rollup_dir, batch),
        cols,
    )
    n_closed = spark.read.parquet(rollup_dir).count()
    report["st7_rollup_with_tail"]["closed_windows_in_rollup"] = n_closed
    report["st7_rollup_with_tail"]["only_closed_windows"] = (
        0 < n_closed < report["st7_rollup_with_tail"]["batch_rows"]
    )

    # Streaming drift monitor: per-window token tallies maintained via the
    # merge sink, drift-vs-baseline on read ≡ the BATCH corpus_drift_metrics
    # operator run window by window (different code path — the batch op
    # never sees the rollup table).
    from functools import reduce

    from ningaloo_turtle_etl_spark.operators.selection import (
        corpus_drift_metrics,
        token_distribution,
    )
    from ningaloo_turtle_etl_spark.streaming.drift import (
        drift_maintenance,
        windowed_drift,
    )

    docs_ts = (
        load_table(spark, "documents", args.sf)
        .select("doc_id", "text")
        .withColumn(
            "ts",
            F.expr(
                "timestamp'2025-03-01 00:00:00' + make_interval("
                "0, 0, 0, CAST(doc_id % 10 AS INT), CAST(doc_id % 24 AS INT), 0, 0)"
            ),
        )
    )
    docfeed = os.path.join(tmp, "docfeed")
    docs_ts.coalesce(1).write.parquet(docfeed)
    docstream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(
        docfeed
    )
    drift_dir = os.path.join(tmp, "driftroll")
    q = drift_maintenance(
        docstream, drift_dir, checkpoint=os.path.join(tmp, "driftckpt")
    )
    q.awaitTermination(300)
    rolled = spark.read.parquet(drift_dir)
    baseline_docs = docs_ts.filter(F.to_date("ts") == "2025-03-01")
    closed = [
        r["window_start"] for r in rolled.select("window_start").distinct().collect()
    ]
    batch_drift = reduce(
        lambda a, b: a.unionByName(b),
        [
            corpus_drift_metrics(
                docs_ts.filter(F.to_date("ts") == F.lit(w.date().isoformat())),
                baseline_docs,
            ).withColumn("window_start", F.lit(w))
            for w in closed
        ],
    )
    check(
        "streaming_drift_monitor",
        batch_drift,
        windowed_drift(rolled, token_distribution(baseline_docs)),
        ["window_start", "n_tokens_a", "n_tokens_b", "vocab_size",
         "kl_ab", "kl_ba", "js_divergence", "total_variation"],
    )
    report["streaming_drift_monitor"]["closed_windows"] = len(closed)

    # Portable HLL sketch maintained incrementally: the register table IS
    # the streaming aggregation state (groupBy(bucket).max(rho) — update by
    # max is the sketch merge), so complete-mode streaming over the feed
    # must equal the batch registers bucket-for-bucket, and therefore give
    # the identical distinct estimate.
    from ningaloo_turtle_etl_spark.operators.sketches import (
        portable_hll_estimate,
        portable_hll_registers,
    )

    stream_regs = run_stream(
        portable_hll_registers(stream, "user_id", by=["event_type"], dedup=False),
        "se_hll",
    )
    check(
        "streaming_hll_registers",
        portable_hll_registers(batch, "user_id", by=["event_type"]),
        stream_regs,
        ["event_type", "bucket", "mr"],
    )
    b_est = _rows(
        portable_hll_estimate(
            portable_hll_registers(batch, "user_id", by=["event_type"]),
            by=["event_type"],
        ),
        ["event_type", "hll_raw"],
    )
    s_est = _rows(
        portable_hll_estimate(stream_regs, by=["event_type"]),
        ["event_type", "hll_raw"],
    )
    report["streaming_hll_registers"]["estimates_match"] = b_est == s_est
    if b_est != s_est and "streaming_hll_registers" not in failed:
        failed.append("streaming_hll_registers")

    # Portable quantile histogram maintained incrementally: with a fixed
    # [lo, hi] grid the per-(group, bin) counts are ONE streaming
    # aggregation (update-by-add is the histogram merge); quantiles read
    # off the streamed state must equal the batch operator's.
    def _value_bins(df, lo, hi, n_bins=1024):
        b = F.least(
            F.lit(n_bins - 1),
            F.floor(
                (F.col("value").cast("double") - F.lit(lo))
                * F.lit(float(n_bins))
                / F.lit(hi - lo)
            ),
        ).cast("long")
        return (
            df.filter(F.col("value").isNotNull())
            .select("event_type", b.alias("bin"))
            .groupBy("event_type", "bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    vlo, vhi = (
        batch.agg(
            F.min("value").cast("double"), F.max("value").cast("double")
        ).collect()[0]
    )
    check(
        "streaming_quantile_histogram",
        _value_bins(batch, vlo, vhi),
        run_stream(_value_bins(stream, vlo, vhi), "se_qhist"),
        ["event_type", "bin", "n"],
    )

    # Count-min sketch maintained incrementally: the (row, col) cell table
    # is ONE streaming aggregation (update-by-add is the sketch merge), so
    # complete-mode streaming over the feed equals the batch sketch
    # cell-for-cell — and therefore every point estimate.
    from ningaloo_turtle_etl_spark.operators.sketches import countmin_table

    check(
        "streaming_countmin_cells",
        countmin_table(batch, "user_id", depth=4, width=64),
        run_stream(
            countmin_table(stream, "user_id", depth=4, width=64), "se_cmin"
        ),
        ["row", "col", "n"],
    )

    # Space-saving heavy hitters: bounded-state top-item tracking via
    # applyInPandasWithState. In the no-eviction regime (capacity above the
    # per-shard cardinality) the summary is exact, so one availableNow pass
    # over the feed must equal the batch ground-truth counts cell-for-cell;
    # eviction arithmetic is pinned by tests/test_stateful_streaming.py.
    from ningaloo_turtle_etl_spark.streaming.stateful import (
        heavy_hitters_batch,
        heavy_hitters_stream,
    )

    check(
        "streaming_heavy_hitters",
        heavy_hitters_batch(batch, "user_id", shards=4),
        run_stream(
            heavy_hitters_stream(stream, "user_id", capacity=4096, shards=4),
            "se_hh",
            mode="append",
        ),
        ["shard", "item", "est_count", "max_err"],
    )

    # Streaming DP release: tumbling-window counts + deterministic
    # md5-seeded Laplace noise (streaming/privacy.py). Determinism is the
    # point — the stream path must publish EXACTLY the noise the batch
    # replay publishes, or restarts would re-release the same window with
    # fresh noise (idempotency + privacy-budget bug). Noise math itself is
    # pinned against numpy in tests/test_privacy.py.
    from ningaloo_turtle_etl_spark.streaming.privacy import dp_daily_release

    check(
        "streaming_dp_release",
        dp_daily_release(batch, epsilon=0.5, seed=11),
        run_stream(
            dp_daily_release(stream, epsilon=0.5, seed=11, watermark="40 days"),
            "se_dp",
        ),
        ["window_start", "event_type", "noisy_n"],
    )

    # Streaming dataset content digest (operators/delta.py dataset_digest):
    # both folds are commutative monoids (bit_xor; modular decimal sum), so
    # the BATCH operator runs unchanged as a complete-mode streaming
    # aggregation — the nightly "did this feed change" digest kept hot.
    from ningaloo_turtle_etl_spark.operators.delta import dataset_digest

    dig_cols = ["event_type", "n_rows", "xor_digest", "sum_digest"]
    dig_key = ["event_id", "user_id", "event_type"]
    check(
        "streaming_table_digest",
        dataset_digest(batch, dig_key, by=["event_type"]),
        run_stream(
            dataset_digest(stream, dig_key, by=["event_type"]), "se_digest"
        ),
        dig_cols,
    )

    if args.json:
        with open(args.json, "w") as fh:
            json.dump(report, fh, indent=2)
        print(f"wrote {args.json} ({len(report)} checks)")

    shutil.rmtree(tmp, ignore_errors=True)
    print(f"\n{len(report) - len(failed)}/{len(report)} stream-equivalence checks OK")
    if failed:
        print("FAILED:", ", ".join(failed))
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
