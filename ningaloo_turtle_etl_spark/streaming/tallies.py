"""Streaming surface — SURVEY.md §2.9 (ST1-ST7).

The reference's track feed is semantically an append-only observation stream
consumed by full re-reads (app.R:77-154, README_TT.md:10-11). Structured
Streaming replaces re-read-everything with incremental micro-batches:

- ST1: file-source stream over an append-only directory
  (``sources.tables.stream_table_dir``).
- ST2: event-time (`observation_start_time`) vs processing-time
  (`meta_submission_date`) both kept as columns.
- ST3: tumbling daily event-time windows for the tallies.
- ST4: watermark bounds state for documented late arrivals
  (turtle-tracks.Rmd:121-130).
- ST5: the Pendoley-Rawcliffe convention — after-midnight nesting belongs to
  the previous day (tagging-etl.Rmd:82-85) — as event-time normalization
  BEFORE windowing.
- ST6: complete-mode in-memory tally for the dashboard's reactive re-tally.
- ST7: idempotent merge-on-key batch sink (EntryBatchProcess re-runnability,
  tagging-etl.Rmd:116-130).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def normalize_after_midnight(
    ts: Column | str, cutoff_hour: int = 6, tz_offset_hours: int = 8
) -> Column:
    """ST5: local observation date with the after-midnight convention — an
    event between 00:00 and ``cutoff_hour`` local time counts for the
    *previous* day (tagging-etl.Rmd:82-85). Applied before any windowing so
    late-night nesting lands in the right daily bucket."""
    c = F.col(ts) if isinstance(ts, str) else ts
    local = c + F.make_interval(hours=F.lit(tz_offset_hours))
    return F.when(
        F.hour(local) < cutoff_hour, F.to_date(local - F.expr("INTERVAL 1 DAY"))
    ).otherwise(F.to_date(local))


def daily_tally(
    df: DataFrame,
    event_time: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    watermark: str = "2 days",
) -> DataFrame:
    """ST3/ST4: tumbling 1-day event-time window tally with a late-data
    watermark. Works on both batch and streaming DataFrames (same plan;
    batch ignores the watermark) — the engine's bridge between the
    reference's batch tallies and its streaming semantics."""
    src = df.withWatermark(event_time, watermark) if df.isStreaming else df
    win = F.window(F.col(event_time), "1 day")
    return (
        src.groupBy(win, *keys)
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            *keys,
            "n",
            "total_value",
        )
    )


def hopping_tally(
    df: DataFrame,
    event_time: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 days",
) -> DataFrame:
    """Hopping (sliding) event-time window tally: overlapping windows of
    ``window`` length starting every ``slide`` — the smoothing view behind
    moving-rate dashboards (each event lands in window/slide windows).
    Same plan batch or streaming, like daily_tally; Spark's window()
    generates the overlap natively, so the blow-up factor is explicit in
    the plan (an Expand node), not a self-join. State per key is bounded
    by watermark/slide windows."""
    src = df.withWatermark(event_time, watermark) if df.isStreaming else df
    win = F.window(F.col(event_time), window, slide)
    return (
        src.groupBy(win, *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            *keys,
            "n",
            "total_value",
        )
    )


def session_tally(
    df: DataFrame,
    event_time: str = "ts",
    keys: tuple[str, ...] = ("user_id",),
    gap: str = "30 minutes",
    watermark: str = "2 days",
) -> DataFrame:
    """Gap-based session windows per key (beyond the reference's surface —
    a complete streaming engine needs them): events closer than ``gap``
    merge into one session; a quiet period of ≥ gap closes it. Built on
    Spark's native ``session_window`` (dynamic, state-merging), so streaming
    gets incremental session merging with watermark-bounded state, and batch
    gets the same plan.

    Output: session_start = first event, session_end = last event + gap
    (Spark's half-open convention), n = events in session."""
    src = df.withWatermark(event_time, watermark) if df.isStreaming else df
    win = F.session_window(F.col(event_time), gap)
    return (
        src.groupBy(win, *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *keys,
            "n",
        )
    )


def watermarked_dedup(
    df: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    event_time: str = "ts",
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: first row per key wins,
    and per-key state is evicted once the watermark passes — the production
    form of at-least-once feed dedup (duplicate deliveries cluster in time,
    so watermark-bounded suppression catches them; plain ``dropDuplicates``
    on a stream keeps state forever and would OOM a 100 TB feed).

    Batch frames take the plain ``dropDuplicates`` path, so one callsite
    serves both modes (the engine's batch≡stream convention; equality is
    checked by tests/test_streaming.py's
    test_watermarked_dedup_drops_redelivered_rows)."""
    if not df.isStreaming:
        return df.dropDuplicates(list(keys))
    return df.withWatermark(event_time, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def complete_tally_query(
    stream: DataFrame, keys: tuple[str, ...], table_name: str
):
    """ST6: the dashboard shape — a complete-mode in-memory aggregation the
    serving layer queries on every UI event (app.R:193-228's reactive
    re-tally, without the re-ingest)."""
    agg = stream.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(table_name)
        .start()
    )
