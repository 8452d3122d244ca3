"""Scale-mechanics tests: the full ETL graph runs end-to-end with its
concurrent actions in the caller's job group; shuffle partitions follow the
master; the within-group inequality profile matches a Python replica."""

from __future__ import annotations

import os

import pytest

from tests.conftest import marker_job


def _etl_inputs(spark):
    """A two-site graph input with one missing bbox corner, one orphan crawl
    and one NA-species crawl."""
    raw_sites = spark.createDataFrame(
        [
            (1, "Ningaloo", "North", "Red Bluff", -23.0, 113.0, -22.9, -23.1, 113.0, 112.9),
            (2, "Ningaloo", "North", "Gnaraloo", -23.8, 113.5, -23.7, -23.9, 113.6, None),
        ],
        "id long, division string, section string, subsection string, lat double,"
        " lon double, y_max double, y_min double, x_max double, x_min double",
    )
    area = spark.createDataFrame(
        [(100, 1, "7/15/2020 6:30:00", "Ningaloo", "North", "Red Bluff", 1)],
        "survey_id long, date_id long, date_raw string, division string,"
        " section string, subsection string, site_disturbed int",
    )
    env = spark.createDataFrame([(1, 10.0, 25.0)], "date_id long, wind_speed double, air_temp double")
    species = spark.createDataFrame([(1, "Green")], "species_id long, species_name string")
    crawls = spark.createDataFrame(
        [(1, 100, 1, 2), (2, 999, None, 1)],
        "crawl_id long, survey_id long, species_id long, no_false_crawls int",
    )
    nests_joined = spark.createDataFrame(
        [(1, 100, "New", "Green", "2020-07-15", "Red Bluff")],
        "nest_id long, survey_id long, nest_type string, species_name string,"
        " date string, subsection string",
    )
    return {
        "raw_sites": raw_sites,
        "area_surveyed": area,
        "environment": env,
        "species": species,
        "raw_crawls": crawls,
        "nests_joined": nests_joined,
    }


_ETL_EXPECTED_QA = {
    "duplicated_sites": 0,
    "sites_missing_coords": 1,
    "orphan_crawls": 1,
    "na_species_crawls": 1,
}


def test_etl_graph_end_to_end(spark, tmp_path):
    import json

    from ningaloo_turtle_etl_spark.plans.etl_graph import publish_products, run_batch_etl
    from ningaloo_turtle_etl_spark.sources.catalogue import Catalogue

    out = str(tmp_path / "products")
    result = run_batch_etl(_etl_inputs(spark), out_dir=out, expected_qa=_ETL_EXPECTED_QA)
    # QA counts reflect the planted issues: one missing bbox corner, one
    # orphan crawl, one NA-species crawl.
    assert result.qa["sites_missing_coords"] == 1
    assert result.qa["orphan_crawls"] == 1
    assert result.qa["na_species_crawls"] == 1
    report = json.load(open(f"{out}/qa_report.json"))
    assert report == result.qa

    # Rendered QA run report (ningaloo-etl.Rmd:372-425 analog): every check
    # matched its expected count, sample rows captured, Markdown rendered.
    detail = json.load(open(f"{out}/qa_run_report.json"))
    assert detail["ok"] is True
    assert detail["counts"] == result.qa
    assert detail["checks"]["orphan_crawls"]["expected"] == 1
    assert len(detail["checks"]["orphan_crawls"]["sample"]) == 1
    md = open(f"{out}/qa_run_report.md").read()
    assert "# QA run report" in md and "orphan_crawls — OK" in md

    assert os.path.exists(f"{out}/sites.geojson")
    assert any(f.endswith(".csv") for f in os.listdir(f"{out}/surveys_csv"))

    cat = Catalogue({}, staging_dir=str(tmp_path / "stage"))
    publish_products(result, cat)
    assert "sites_geojson" in cat.published and "surveys" in cat.published


def test_etl_graph_concurrent_actions_stay_in_callers_job_group(spark, tmp_path):
    """run_batch_etl submits its QA actions, then its product writes, from a
    thread pool: every job they run is accounted to the caller's job group,
    and the QA report still lists the checks in their declared order."""
    import json
    import uuid

    from ningaloo_turtle_etl_spark.plans.etl_graph import run_batch_etl

    sc = spark.sparkContext
    group = f"etl-graph-{uuid.uuid4().hex}"
    out = str(tmp_path / "products")
    try:
        before = marker_job(sc, f"{group}-before")
        sc.setJobGroup(group, "run_batch_etl")
        run_batch_etl(_etl_inputs(spark), out_dir=out, expected_qa=_ETL_EXPECTED_QA)
        after = marker_job(sc, f"{group}-after")
    finally:
        sc.setJobGroup(None, None)
    in_group = sc.statusTracker().getJobIdsForGroup(group)
    assert len(in_group) > 0
    assert len(in_group) == after - before - 1

    declared = ["duplicated_sites", "sites_missing_coords", "orphan_crawls", "na_species_crawls"]
    with open(f"{out}/qa_run_report.json") as f:
        detail = json.load(f)
    assert list(detail["checks"]) == declared
    assert list(detail["counts"]) == declared


def test_etl_graph_failing_write_raises(spark, tmp_path, monkeypatch):
    """A product write that fails among the concurrent writes fails the run."""
    from ningaloo_turtle_etl_spark.plans import etl_graph

    real_write_csv = etl_graph.write_csv

    def write_csv(df, path, **options):
        if path.endswith("crawls_csv"):
            raise OSError(f"no space left writing {path}")
        real_write_csv(df, path, **options)

    monkeypatch.setattr(etl_graph, "write_csv", write_csv)
    with pytest.raises(OSError, match="no space left writing .*crawls_csv"):
        etl_graph.run_batch_etl(_etl_inputs(spark), out_dir=str(tmp_path / "products"))


@pytest.mark.parametrize(
    "master, env, want",
    [
        ("local[4]", None, "4"),
        ("local[*]", None, str(len(os.sched_getaffinity(0)))),
        ("local[4]", "7", "7"),
        ("spark://head:7077", None, "32"),
    ],
    ids=["local_n", "local_star", "env_override", "cluster_master"],
)
def test_shuffle_partitions_follow_master(monkeypatch, master, env, want):
    """One shuffle partition per local core; $SPARK_GRAFT_SHUFFLE overrides."""
    from ningaloo_turtle_etl_spark.session import shuffle_partitions

    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", env)
    assert shuffle_partitions(master) == want


def test_inequality_profile_replica_and_orderings(spark):
    """inequality_profile vs an exact Python replica (same quantized
    terms), plus the index semantics: an all-equal group scores 0 on
    all three; a skewed group scores strictly higher on each; zeros
    contribute the documented limits."""
    import decimal
    import math

    from ningaloo_turtle_etl_spark.operators.curation import (
        inequality_profile,
    )

    rows = (
        [("flat", 100)] * 8
        + [("skew", 10)] * 7 + [("skew", 930)]
        + [("zeros", 0), ("zeros", 0), ("zeros", 100), ("zeros", 100)]
        + [("single", 42)]
    )
    df = spark.createDataFrame(rows, "g string, x long")
    got = {
        r["g"]: r for r in inequality_profile(df, "g", "x").collect()
    }

    def rhu(v):
        return int(decimal.Decimal(v).quantize(0, rounding=decimal.ROUND_HALF_UP))

    import collections

    groups = collections.defaultdict(list)
    for g, x in rows:
        groups[g].append(x)
    for g, xs in groups.items():
        n, sx = len(xs), sum(xs)
        mu = sx / n
        s_theil = sum(
            rhu((x * n / sx) * math.log(x * n / sx) * 1e9)
            for x in xs
            if x > 0
        )
        s_sqrt = sum(rhu(math.sqrt(x) * 1e6) for x in xs)
        var = sum(x * x for x in xs) / n - mu * mu
        cv = math.sqrt(var) / mu if var > 0 and sx > 0 else 0.0
        r = got[g]
        assert r["n"] == n
        assert abs(r["mean"] - round(mu, 6)) < 1e-9
        assert abs(r["cv"] - round(cv, 6)) < 1e-9
        assert abs(r["theil_t"] - round(s_theil / 1e9 / n, 6)) < 1e-9
        atk = 1.0 - (s_sqrt / 1e6 / n) ** 2 / mu
        assert abs(r["atkinson_05"] - round(atk, 6)) < 1e-9

    for k in ("cv", "theil_t", "atkinson_05"):
        assert got["flat"][k] == 0.0 and got["single"][k] == 0.0
        assert got["skew"][k] > got["zeros"][k] > 0.0
