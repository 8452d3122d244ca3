"""Source/sink tests — S3-S6, S8 (REST pushdown, CSV, snapshots)."""

from __future__ import annotations

import json

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ningaloo_turtle_etl_spark.sources.files import (
    load_snapshot,
    read_csv,
    snapshot,
    write_csv,
)
from ningaloo_turtle_etl_spark.sources.rest import RestSource

TRACK_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("species", StringType()),
        StructField("longitude", DoubleType()),
        StructField("latitude", DoubleType()),
        StructField("area_id", LongType()),
    ]
)

FEED = [
    {"id": "t1", "species": "green", "longitude": 113.1, "latitude": -21.9, "area_id": 17},
    {"id": "t2", "species": "flatback", "longitude": 113.2, "latitude": -21.8, "area_id": 17},
    {"id": "t3", "species": "green", "longitude": 115.0, "latitude": -32.0, "area_id": 18},
]


def test_rest_source_pushdown_and_residual(spark):
    calls = []

    def fake_fetcher(url, headers):
        calls.append((url, headers))
        # Server-side filter honoring the area param (the reference's
        # ?where=17 pattern, track_analysis.R:14-18).
        from urllib.parse import parse_qs, urlparse

        qs = parse_qs(urlparse(url).query)
        records = FEED
        if "where" in qs:
            records = [r for r in records if r["area_id"] == int(qs["where"][0])]
        if "limit" in qs:
            records = records[: int(qs["limit"][0])]
        return json.dumps({"objects": records})

    src = RestSource(
        base_url="https://example.test/api/tracks",
        schema=TRACK_SCHEMA,
        records_path="objects",
        pushdown_params={"area_id": "where"},
        headers={"Authorization": "Token sekrit"},
        fetcher=fake_fetcher,
    )
    df = src.read(spark, filters={"area_id": 17, "species": "green"}, limit=10)
    rows = df.collect()

    # area_id pushed into the URL; species applied post-parse by Catalyst.
    url, headers = calls[0]
    assert "where=17" in url and "limit=10" in url and "species" not in url
    assert headers["Authorization"] == "Token sekrit"
    assert [r["id"] for r in rows] == ["t1"]


def test_rest_source_pagination(spark):
    calls = []
    corpus = [{"id": f"t{i}", "species": "green", "longitude": 1.0, "latitude": 2.0, "area_id": 1} for i in range(25)]

    def fake_fetcher(url, headers):
        from urllib.parse import parse_qs, urlparse

        calls.append(url)
        qs = parse_qs(urlparse(url).query)
        off = int(qs.get("offset", ["0"])[0])
        lim = int(qs.get("limit", ["100"])[0])
        return json.dumps({"objects": corpus[off : off + lim]})

    src = RestSource(
        base_url="https://example.test/api",
        schema=TRACK_SCHEMA,
        page_size=10,
        fetcher=fake_fetcher,
    )
    df = src.read(spark)
    assert df.count() == 25  # 10 + 10 + 5 across three pages
    assert len(calls) == 3
    # Caller limit caps the paging loop.
    calls.clear()
    assert src.read(spark, limit=15).count() == 15
    assert len(calls) == 2


def test_rest_source_bad_records_path(spark):
    src = RestSource(
        base_url="https://example.test/api",
        schema=TRACK_SCHEMA,
        records_path="rows",
        fetcher=lambda url, h: json.dumps({"rows": {"not": "a list"}}),
    )
    try:
        src.read(spark)
        raise AssertionError("expected ValueError")
    except ValueError as ex:
        assert "records_path" in str(ex)


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None)], "id long, s string, v double"
    )
    path = str(tmp_path / "out_csv")
    write_csv(df, path, single_file=True)
    back = read_csv(spark, path, "id long, s string, v double")
    assert sorted((r["id"], r["s"], r["v"]) for r in back.collect()) == [
        (1, "a", 1.5),
        (2, "b", None),
    ]


def test_parquet_snapshot_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], "id long, d string"
    )
    path = str(tmp_path / "snap")
    snapshot(df, path, partition_by=["d"])
    back = load_snapshot(spark, path)
    assert back.filter("d = '2024-01-01'").count() == 1
    # Partition pruning: the date filter must reach the file listing, not
    # scan both partitions.
    plan = back.filter("d = '2024-01-01'")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(d" in plan or "d#" in plan


# --- JSONL (LLM corpus interchange) -----------------------------------------

def test_jsonl_roundtrip_and_corrupt_quarantine(spark, tmp_path):
    import json as _json

    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.sources.files import read_jsonl, write_jsonl

    path = str(tmp_path / "docs.jsonl")
    lines = [
        _json.dumps({"doc_id": 1, "text": "hello world", "meta": {"lang": "en"}}),
        _json.dumps({"doc_id": 2, "text": "bonjour", "meta": {"lang": "fr"}}),
        "{this is not json",
        _json.dumps({"doc_id": 3, "text": None, "meta": None}),
    ]
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "part-000.jsonl").write_text("\n".join(lines))
    schema = "doc_id long, text string, meta struct<lang: string>"
    # cache() before touching the quarantine column alone — Spark disallows
    # corrupt-column-only queries straight off the raw scan
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN), as the reader docstring notes.
    df = read_jsonl(spark, str(tmp_path / "in"), schema).cache()
    rows = df.collect()
    assert len(rows) == 4
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert bad.count() == 1 and bad.collect()[0]["_corrupt_record"] == "{this is not json"
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    assert {r["doc_id"] for r in clean.collect()} == {1, 2, 3}
    assert clean.filter("meta.lang = 'en'").count() == 1
    # round-trip
    write_jsonl(clean, path, single_file=True)
    back = read_jsonl(spark, path, schema, corrupt_col=None)
    assert sorted(r["doc_id"] for r in back.collect()) == [1, 2, 3]
    df.unpersist()


def test_jsonl_failfast_raises_on_corrupt(spark, tmp_path):
    import pytest
    from py4j.protocol import Py4JJavaError

    from ningaloo_turtle_etl_spark.sources.files import read_jsonl

    p = tmp_path / "bad.jsonl"
    p.write_text('{"doc_id": 1}\n{nope\n')
    df = read_jsonl(spark, str(p), "doc_id long", corrupt_col=None)
    with pytest.raises(Exception):
        df.collect()


def test_orc_round_trip_with_partition_pruning(spark, tmp_path):
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.sources.files import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "a", -3.0)],
        "id long, k string, v double",
    )
    path = str(tmp_path / "orc_snap")
    write_orc(df, path, partition_by=["k"])
    back = read_orc(spark, path)
    assert sorted(
        (r["id"], r["k"], r["v"]) for r in back.collect()
    ) == [(1, "a", 1.5), (2, "b", 2.5), (3, "a", -3.0)]
    # partition pruning: the k='a' filter must reach the scan as a
    # partition filter, not a post-scan predicate
    plan = back.where(F.col("k") == "a")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(k" in plan, plan


def test_load_table_infers_schema_once_per_file_state(spark, tmp_path):
    """Footer inference runs one Spark job; load_table caches the schema per
    (path, size, mtime), so a second load of the same file runs no job and a
    rewritten file is inferred again."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ningaloo_turtle_etl_spark.sources.tables import load_table
    from tests.conftest import marker_job

    sc = spark.sparkContext
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    path = sf_dir / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a b", "c d"]}), path)

    def jobs_for(loads: int, tag: str):
        group = f"load-table-{tag}-{uuid.uuid4().hex}"
        try:
            sc.setJobGroup(group, tag)
            dfs = [load_table(spark, "documents", str(sf_dir)) for _ in range(loads)]
            marker_job(sc, f"{group}-after")  # every earlier job is tracked now
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), dfs[-1]

    n_jobs, df = jobs_for(2, "first")
    assert n_jobs == 1
    assert df.columns == ["doc_id", "text"]
    assert jobs_for(1, "cached")[0] == 0

    pq.write_table(
        pa.table({"doc_id": [3], "text": ["e f g"], "lang": ["en"]}), path
    )
    n_jobs, df = jobs_for(1, "rewritten")
    assert n_jobs == 1
    assert df.columns == ["doc_id", "text", "lang"]
    assert [tuple(r) for r in df.collect()] == [(3, "e f g", "en")]
