"""Integration: streaming ingest → in-memory table → dashboard queries —
the full §3.2 loop (app.R's reactive data() + consumers) with Structured
Streaming doing the ingest instead of per-access re-reads."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.operators.dedup import exact_dedup_semi
from ningaloo_turtle_etl_spark.plans.dashboard import TracksDashboard
from ningaloo_turtle_etl_spark.sources.tables import load_table, stream_table_dir
from tests.conftest import SF_DIR


def test_streaming_ingest_feeds_dashboard(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", feed / "p0.parquet")

    raw = stream_table_dir(spark, str(feed), "events")
    # Ingest: project the tracks-shaped view the dashboard expects,
    # materialized to an in-memory table by the stream (ts arrives repaired
    # by stream_table_dir, same as the batch loader).
    tracks = raw.select(
        F.col("event_id").cast("string").alias("id"),
        (F.lit(113.0) + F.col("user_id") % 10 / 10.0).alias("longitude"),
        (F.lit(-22.0) - F.col("user_id") % 7 / 10.0).alias("latitude"),
        F.col("event_type").alias("species"),
        F.when(F.col("value") > 100, "fresh").otherwise("old").alias("nest_age"),
        F.lit("nest").alias("nest_type"),
        F.lit("WA").alias("location"),
        F.to_date("ts").alias("observation_date"),
        F.col("ts").alias("observation_start_time"),
    )
    q = (
        tracks.writeStream.outputMode("append")
        .format("memory")
        .queryName("tracks_live")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    d = TracksDashboard(spark.table("tracks_live")).with_filters(species="purchase")
    n_purchase = d.filtered().count()
    assert n_purchase > 0
    assert d.map_markers().count() == n_purchase
    tally_total = d.tally_table().agg(F.sum("n")).collect()[0][0]
    assert tally_total == n_purchase
    status = d.latest_observation().collect()[0]
    assert status["n_obs"] == n_purchase and status["latest"] is not None
    # Absolute-date pin: a silent epoch shift (e.g. a stale nanos repair on
    # micros data collapsing everything to Jan 1970) must fail loudly. The
    # streamed dates must equal the batch loader's, and be post-2000.
    batch_max = (
        load_table(spark, "events", SF_DIR)
        .filter(F.col("event_type") == "purchase")
        .agg(F.max("ts").alias("t"))
        .collect()[0]["t"]
    )
    assert status["latest"] == batch_max
    assert batch_max.year > 2000


def test_exact_dedup_semi_matches_python_reference(spark):
    """Keepers are the lowest doc_id per normalized text: case and runs of
    whitespace (spaces, tabs, newlines, leading or trailing) do not
    distinguish documents, any other character does."""
    rows = [(i, f"text {i % 7}") for i in range(50)]
    rows += [
        (50, "TEXT 3"),
        (51, "  text\t\n 4 "),
        (52, "Text  5\n"),
        (53, "text 6."),
        (54, "text6"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    first: dict[str, int] = {}
    for doc_id, text in sorted(rows):
        first.setdefault(" ".join(text.split()).lower(), doc_id)
    got = sorted(r["doc_id"] for r in exact_dedup_semi(df).collect())
    assert got == sorted(first.values()) == [*range(7), 53, 54]
