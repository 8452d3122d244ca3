"""Data-quality / validation operators — SURVEY.md §5.1 QA queries and the
U6/F16 stored-procedure validation suite re-expressed as DataFrame rules.

Every rule returns a DataFrame of violations (empty = clean), so the QA
section of the reference (ningaloo-etl.Rmd:372-425) becomes assertable:
``assert rule(df).isEmpty()`` in tests, or a quarantine sink in pipelines.
Validation never throws mid-pipeline — bad rows carry error_number /
error_message columns exactly like the reference's batch tables
(tagging-etl.Rmd:134-145).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ningaloo_turtle_etl_spark.operators.relational import duplicated_rows, orphans


def duplicated_key_rows(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """QA1 (ningaloo-etl.Rmd:377): rows whose key appeared earlier."""
    return duplicated_rows(df, keys)


def missing_coordinates(df: DataFrame) -> DataFrame:
    """QA2 (ningaloo-etl.Rmd:386-389): disjunctive NULL scan over bbox cols."""
    pred = F.lit(False)
    for c in ("y_max", "y_min", "x_max", "x_min"):
        pred = pred | F.col(c).isNull()
    return df.filter(pred)


def orphan_observations(
    fact: DataFrame, parent: DataFrame, on: str = "survey_id"
) -> DataFrame:
    """QA3 (ningaloo-etl.Rmd:402-405): anti-join referential-integrity check
    (302 crawls / 299 nests in the reference)."""
    return orphans(fact, parent.select(on).distinct(), on=on)


def na_lookup_rows(df: DataFrame, col: str) -> DataFrame:
    """QA4 (ningaloo-etl.Rmd:415-424): observations whose lookup resolution
    failed (22 NA-species crawls in the reference)."""
    return df.filter(F.col(col).isNull() | (F.col(col) == "NA"))


# --- U6/F16: the WAMTRAM2 validation suite as rules ------------------------

def validate_measurements(measurements: DataFrame, bounds: DataFrame) -> DataFrame:
    """F16 (tagging-etl.Rmd:170-177,361-369): ValidateMeasurement — join each
    measurement to its type's [min_value, max_value] bounds; out-of-range or
    unknown-type rows get error columns, clean rows get NULL errors. The
    bounds table is tiny → broadcast."""
    joined = measurements.join(F.broadcast(bounds), on="measurement_type", how="left")
    v, lo, hi = F.col("value"), F.col("min_value"), F.col("max_value")
    return joined.withColumn(
        "error_number",
        F.when(lo.isNull() & hi.isNull(), F.lit(1001))
        .when(v < lo, F.lit(1002))
        .when(v > hi, F.lit(1003)),
    ).withColumn(
        "error_message",
        F.when(F.col("error_number") == 1001, F.lit("unknown measurement type"))
        .when(F.col("error_number") == 1002, F.concat(F.lit("below minimum "), lo))
        .when(F.col("error_number") == 1003, F.concat(F.lit("above maximum "), hi)),
    )


def validate_fk_exists(
    df: DataFrame,
    parent: DataFrame,
    on: str,
    error_number: int,
    error_message: str,
) -> DataFrame:
    """J8 as validation (FlipperTagExists / PitTagExists / CheckPerson,
    tagging-etl.Rmd:148-167,179-184): tag rows whose FK has no parent."""
    hits = parent.select(F.col(on)).distinct().withColumn("_ok", F.lit(1))
    joined = df.join(F.broadcast(hits), on=on, how="left")
    return joined.withColumn(
        "error_number", F.when(F.col("_ok").isNull(), F.lit(error_number))
    ).withColumn(
        "error_message", F.when(F.col("_ok").isNull(), F.lit(error_message))
    ).drop("_ok")


def only_errors(validated: DataFrame) -> DataFrame:
    return validated.filter(F.col("error_number").isNotNull())


def only_clean(validated: DataFrame) -> DataFrame:
    """ValidateDataEntryBatch semantics: records already processed or valid
    pass through; the batch is re-runnable (tagging-etl.Rmd:116-130)."""
    return validated.filter(F.col("error_number").isNull())
