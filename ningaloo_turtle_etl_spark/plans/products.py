"""The reference's batch-ETL product graph (SURVEY.md §3.1), re-expressed as
lazy DataFrame pipelines over reference-shaped inputs.

Each builder takes already-loaded DataFrames (the engine doesn't care whether
they came from Parquet, JDBC, or a fixture) and returns a lazy product; a
``write.csv`` site in the reference becomes "caller triggers an action".
Sources cited per stage; these run against FIXTURES.md-shaped frames in
tests/test_products.py.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ningaloo_turtle_etl_spark.functions.scalars import (
    parse_date_time,
    patch_where,
    recode_12_to_10,
    season,
)
from ningaloo_turtle_etl_spark.operators.relational import (
    count_pivot,
    group_count,
    natural_join,
    resolve_lookups,
)

SPECIES_VALUES = ("Green", "Loggerhead", "Hawksbill", "Flatback", "Unidentified")

SITE_KEY = ["division", "section", "subsection"]  # composite natural key (J2)


def build_sites(raw_sites: DataFrame) -> DataFrame:
    """sites product: transmute/cast (ningaloo-etl.Rmd:67-78) + the manual
    Red Bluff bbox patch (:83-84) as patch-by-predicate."""
    sites = raw_sites.select(
        F.col("id").cast("long").alias("id"),
        F.col("division").cast("string").alias("division"),
        F.col("section").cast("string").alias("section"),
        F.col("subsection").cast("string").alias("subsection"),
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
        F.col("y_max").cast("double").alias("y_max"),
        F.col("y_min").cast("double").alias("y_min"),
        F.col("x_max").cast("double").alias("x_max"),
        F.col("x_min").cast("double").alias("x_min"),
    )
    return patch_where(
        sites, F.col("subsection") == "Red Bluff", x_max=F.lit(113.458)
    )


def build_surveys(
    area_surveyed: DataFrame, environment: DataFrame, sites: DataFrame
) -> DataFrame:
    """surveys product (ningaloo-etl.Rmd:173-204): area ⟕ environment on the
    date key, multi-format timestamp parse, season derivation, composite-key
    join to sites (the :151-157 duplicate-subsection trap), boolean recode."""
    joined = area_surveyed.join(environment, on="date_id", how="left")
    typed = joined.withColumn(
        "date", parse_date_time("date_raw", ["mdyHMS", "YmdHMS", "Ymd"])
    ).withColumn("season", season("date"))
    with_sites = typed.join(
        sites.select(*SITE_KEY, "id", "lat", "lon"), on=SITE_KEY, how="left"
    )
    return with_sites.withColumn(
        "site_disturbed", recode_12_to_10("site_disturbed")
    )


def build_crawls(
    raw_crawls: DataFrame, species: DataFrame, surveys: DataFrame
) -> DataFrame:
    """crawls product (ningaloo-etl.Rmd:229-239): lookup-resolve species →
    ⟕ surveys → NA species backfill."""
    resolved = resolve_lookups(raw_crawls, [(species, "species_id")])
    joined = resolved.join(
        surveys.select("survey_id", "date", "season", *SITE_KEY),
        on="survey_id",
        how="left",
    )
    return joined.withColumn(
        "species_name", F.coalesce("species_name", F.lit("NA"))
    )


def build_summary_nests(
    nests: DataFrame,
    surveys: DataFrame,
    by: Sequence[str] = ("subsection", "date"),
) -> DataFrame:
    """summary_nests (ningaloo-etl.Rmd:308-315): filter(New) → tally →
    spread(species, fill=0) → natural ⨝ surveys. The seasonal variant
    (:321-329) is the same plan with by=('subsection','season')."""
    wide = count_pivot(
        nests.filter(F.col("nest_type") == "New"),
        keys=list(by),
        pivot_col="species_name",
        values=SPECIES_VALUES,
    )
    return natural_join(wide, surveys.select("survey_id", *dict.fromkeys([*by, *SITE_KEY])))


def build_survey_completeness(
    surveys: DataFrame, expected_per_section: DataFrame
) -> DataFrame:
    """survey_completeness (ningaloo-etl.Rmd:463-477): per-season subsection
    counts vs expected counts per section, completeness flag via conditional
    expression (P9)."""
    actual = group_count(
        surveys.filter(F.col("section").isNotNull() & (F.col("section") != "")),
        ["section", "season"],
        name="n_surveyed",
    )
    joined = actual.join(F.broadcast(expected_per_section), on="section", how="left")
    return joined.withColumn(
        "complete", F.when(F.col("n_surveyed") < F.col("n_expected"), False).otherwise(True)
    )
