"""The full batch-ETL product graph (SURVEY.md §3.1) as one composable run:

    fetch → build {sites, surveys, crawls, nests} → summaries → QA
    → write CSV products + sites GeoJSON → publish to catalogue

Mirrors ningaloo-etl.Rmd end-to-end: every `write.csv` site becomes a product
action; the QA section (:372-425) runs as rules and lands in the output as a
machine-checkable report. One lazy DAG per product — Spark only materializes
at the writes. The QA actions, and then the product writes, are independent,
so each group is submitted at once (``session.run_concurrently``) and their
mostly single-task stages share the local cores.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from functools import partial
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ningaloo_turtle_etl_spark.operators.quality import (
    duplicated_key_rows,
    missing_coordinates,
    na_lookup_rows,
    orphan_observations,
)
from ningaloo_turtle_etl_spark.plans.products import (
    build_crawls,
    build_sites,
    build_summary_nests,
    build_surveys,
)
from ningaloo_turtle_etl_spark.session import run_concurrently
from ningaloo_turtle_etl_spark.sources.files import write_csv
from ningaloo_turtle_etl_spark.sources.geojson import (
    bbox_ring,
    feature_json,
    write_feature_collection,
)


@dataclass
class EtlResult:
    products: dict[str, DataFrame]
    qa: dict[str, int]
    out_dir: str
    qa_detail: dict | None = None


def run_batch_etl(
    inputs: dict[str, DataFrame],
    out_dir: str,
    expected_qa: dict[str, int] | None = None,
) -> EtlResult:
    """Run the product graph over loaded inputs.

    ``inputs`` needs: raw_sites, area_surveyed, environment, species,
    raw_crawls, nests_joined (nest obs already joined to their lookups and
    surveys, carrying nest_type / species_name).
    """
    sites = build_sites(inputs["raw_sites"])
    surveys = build_surveys(inputs["area_surveyed"], inputs["environment"], sites)
    crawls = build_crawls(inputs["raw_crawls"], inputs["species"], surveys)
    nests_joined = inputs["nests_joined"]
    if "season" not in nests_joined.columns:
        nests_joined = nests_joined.join(
            surveys.select("survey_id", "season"), on="survey_id", how="left"
        )
    summary_nests = build_summary_nests(nests_joined, surveys)
    summary_nests_seasons = build_summary_nests(
        nests_joined, surveys, by=("subsection", "season")
    )

    products: dict[str, DataFrame] = {
        "sites": sites,
        "surveys": surveys,
        "crawls": crawls,
        "summary_nests": summary_nests,
        "summary_nests_seasons": summary_nests_seasons,
    }

    # QA section (ningaloo-etl.Rmd:372-425) as a rendered run report:
    # the four reference checks, each with an optional expected count
    # (the reference's prose "we expect 22 NA crawls" as an assertion).
    from ningaloo_turtle_etl_spark.plans.qa_report import QaCheck, run_qa, write_qa_report

    expected_qa = expected_qa or {}
    checks = [
        QaCheck(
            "duplicated_sites",
            "Site rows whose subsection key appeared earlier "
            "(ningaloo-etl.Rmd:377).",
            duplicated_key_rows(sites, ["subsection"]),
            expected_qa.get("duplicated_sites"),
        ),
        QaCheck(
            "sites_missing_coords",
            "Sites with any NULL bbox coordinate (ningaloo-etl.Rmd:386-389).",
            missing_coordinates(sites),
            expected_qa.get("sites_missing_coords"),
        ),
        QaCheck(
            "orphan_crawls",
            "Crawl observations whose survey_id has no surveys parent — the "
            "302-vs-299 referential check (ningaloo-etl.Rmd:402-405).",
            orphan_observations(inputs["raw_crawls"], surveys, "survey_id"),
            expected_qa.get("orphan_crawls"),
        ),
        QaCheck(
            "na_species_crawls",
            "Crawls whose species lookup resolved to NA — the 22-crawl scan "
            "(ningaloo-etl.Rmd:415-424).",
            na_lookup_rows(crawls, "species_name"),
            expected_qa.get("na_species_crawls"),
        ),
    ]
    qa_detail = run_qa(checks)
    qa = {name: r["count"] for name, r in qa_detail.items()}

    os.makedirs(out_dir, exist_ok=True)
    geo = sites.withColumn(
        "feature",
        feature_json(
            bbox_ring("x_min", "y_min", "x_max", "y_max"),
            {"id": F.col("id"), "subsection": F.col("subsection")},
        ),
    )
    writes = [
        partial(write_csv, df, os.path.join(out_dir, f"{name}_csv"), single_file=True)
        for name, df in products.items()
    ]
    writes.append(
        partial(write_feature_collection, geo, "feature", os.path.join(out_dir, "sites.geojson"))
    )
    run_concurrently(sites.sparkSession, writes)
    # Legacy flat counts (qa_report.json 'counts' mirrors this file's old
    # shape) plus the rendered human-readable report.
    with open(os.path.join(out_dir, "qa_report.json"), "w") as f:
        json.dump(qa, f, indent=2)
    write_qa_report(qa_detail, out_dir, stem="qa_run_report")

    return EtlResult(products=products, qa=qa, out_dir=out_dir, qa_detail=qa_detail)


def publish_products(result: EtlResult, catalogue: Any) -> None:
    """S9: push every written product to the catalogue (resource id =
    product name), mirroring ningaloo-etl.Rmd:430-437."""
    for name in result.products:
        path = os.path.join(result.out_dir, f"{name}_csv")
        if os.path.exists(path):
            catalogue.publish(name, path)
    geo = os.path.join(result.out_dir, "sites.geojson")
    if os.path.exists(geo):
        catalogue.publish("sites_geojson", geo)
