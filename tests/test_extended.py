"""Tests for extended coverage: JDBC reader construction, catalogue
fetch/publish (offline), embedding near-dup LSH blocking, new relational
helpers."""

from __future__ import annotations

import io
import zipfile

import pyspark.sql.functions as F
import pytest

from ningaloo_turtle_etl_spark.operators.dedup import embedding_near_dup_pairs
from ningaloo_turtle_etl_spark.operators.relational import (
    encounter_history_pivot,
    grouped_html_table,
    select_regex,
)
from ningaloo_turtle_etl_spark.sources.catalogue import Catalogue
from ningaloo_turtle_etl_spark.sources.jdbc import JdbcCatalog


def test_jdbc_partitioned_read_requires_bounds(spark):
    cat = JdbcCatalog("jdbc:postgresql://example.test/db", {"user": "x"})
    with pytest.raises(ValueError):
        cat.table(spark, "t", partition_column="id")


def test_jdbc_contents_lists_catalog(spark):
    spark.createDataFrame([(1,)], "x long").createOrReplaceTempView("jdbc_probe_view")
    cat = JdbcCatalog("jdbc:ignored://")
    assert "jdbc_probe_view" in cat.contents(spark)


def test_catalogue_fetch_unzip_and_refresh(tmp_path):
    calls = []
    payload = io.BytesIO()
    with zipfile.ZipFile(payload, "w") as z:
        z.writestr("data.mdb", b"fake-mdb-bytes")

    def transport(url):
        calls.append(url)
        return payload.getvalue()

    cat = Catalogue(
        {"mdb-rid": "https://catalogue.test/mdb.zip"},
        staging_dir=str(tmp_path / "staging"),
        transport=transport,
    )
    d1 = cat.fetch("mdb-rid")
    assert (tmp_path / "staging" / "mdb-rid" / "data.mdb").read_bytes() == b"fake-mdb-bytes"
    d2 = cat.fetch("mdb-rid")  # cached: no second HTTP call
    assert d1 == d2 and len(calls) == 1
    cat.fetch("mdb-rid", refresh=True)
    assert len(calls) == 2


def test_catalogue_publish_checks_path(tmp_path):
    cat = Catalogue({}, staging_dir=str(tmp_path))
    with pytest.raises(FileNotFoundError):
        cat.publish("rid", str(tmp_path / "missing.csv"))
    p = tmp_path / "ok.csv"
    p.write_text("a\n1\n")
    cat.publish("rid", str(p))
    assert cat.published["rid"] == str(p)


def test_embedding_near_dup_lsh_blocking_recall(spark):
    from ningaloo_turtle_etl_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, "embeddings", SF_DIR).filter(F.col("vec_id") < 200)
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.3, use_lsh_blocking=False
        ).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.3, use_lsh_blocking=True, bits=4, tables=8
        ).collect()
    }
    assert blocked <= exact  # verification makes blocking precision-exact
    if exact:
        assert len(blocked & exact) / len(exact) >= 0.5  # candidate recall


def test_select_regex_no_match_raises(spark):
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError):
        select_regex(df, r"^nope$")


def test_grouped_html_table_shape(spark):
    df = spark.createDataFrame(
        [("a", 2, 1.0), ("a", 1, 2.0), ("b", 3, 3.0)], "g string, k int, v double"
    )
    out = {r["g"]: r["html"] for r in grouped_html_table(df, "g", ["k", "v"]).collect()}
    assert out["a"].startswith("<table><tr><th>k</th><th>v</th></tr>")
    # Rows sorted for determinism: k=1 row precedes k=2 row.
    assert out["a"].index("<td>1</td>") < out["a"].index("<td>2</td>")
    assert out["b"].count("<tr>") == 2  # header + one row


def test_encounter_history_clamps_to_binary(spark):
    df = spark.createDataFrame(
        [(1, 2020), (1, 2020), (1, 2022), (2, 2021)], "turtle long, season int"
    )
    out = {
        r["turtle"]: (r["2020"], r["2021"], r["2022"])
        for r in encounter_history_pivot(df, "turtle", "season", [2020, 2021, 2022]).collect()
    }
    assert out[1] == (1, 0, 1)  # double encounter clamps to 1
    assert out[2] == (0, 1, 0)


def test_winsorize_clips_to_quantiles_exact_and_approx(spark):
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators.relational import winsorize
    from ningaloo_turtle_etl_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, "events", SF_DIR)
    lo, hi = ev.agg(
        F.percentile("value", F.lit(0.1)), F.percentile("value", F.lit(0.9))
    ).collect()[0]
    out = winsorize(ev, "value", 0.1, 0.9, name="vw")
    got_lo, got_hi = out.agg(F.min("vw"), F.max("vw")).collect()[0]
    assert got_lo == lo and got_hi == hi
    # interior values pass through untouched
    n_changed = out.filter(F.col("vw") != F.col("value")).count()
    n_outside = ev.filter((F.col("value") < lo) | (F.col("value") > hi)).count()
    assert n_changed == n_outside > 0
    # approx path: same plan, sketch cut points within 5% of exact
    a = winsorize(ev, "value", 0.1, 0.9, name="vw", exact=False)
    a_lo, a_hi = a.agg(F.min("vw"), F.max("vw")).collect()[0]
    assert abs(a_lo - lo) <= 0.05 * max(abs(lo), 1)
    assert abs(a_hi - hi) <= 0.05 * max(abs(hi), 1)


def test_winsorize_auto_mode_and_sketch_plan(spark):
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators import relational
    from ningaloo_turtle_etl_spark.operators.relational import winsorize

    ev = spark.range(1000).select(F.col("id").cast("double").alias("value"))
    # Auto mode picks exact below the threshold, sketch above it.
    auto_small = winsorize(ev, "value", 0.1, 0.9, name="vw")
    plan_small = auto_small._jdf.queryExecution().executedPlan().toString()
    assert "percentile(" in plan_small.replace("approx_percentile", "")

    orig = relational.WINSORIZE_EXACT_MAX_ROWS
    relational.WINSORIZE_EXACT_MAX_ROWS = 100
    try:
        auto_big = winsorize(ev, "value", 0.1, 0.9, name="vw")
    finally:
        relational.WINSORIZE_EXACT_MAX_ROWS = orig
    plan_big = auto_big._jdf.queryExecution().executedPlan().toString()
    # The sketch path must carry NO exact (column-buffering) percentile agg.
    assert "approx_percentile" in plan_big
    assert "percentile(" not in plan_big.replace("approx_percentile", "")


def test_winsorize_rejects_streaming_input(spark):
    import pytest

    from ningaloo_turtle_etl_spark.operators.relational import winsorize

    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="Structured Streaming"):
        winsorize(stream, "value")


def test_count_pivot_empty_values_yields_no_value_columns(spark):
    # Regression (r04 review): an explicitly-empty closed value list fell
    # through the falsy check into the data-dependent distinct scan.
    from ningaloo_turtle_etl_spark.operators.relational import count_pivot

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    out = count_pivot(df, ["k"], "v", values=[])
    assert out.columns == ["k"]
