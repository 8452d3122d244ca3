"""Scalar layer — SURVEY.md §2.8 (F1-F16), expressed as Catalyst columns.

Everything here compiles to built-in JVM expressions (whole-stage codegen);
there are deliberately no Python UDFs in this module. Each helper cites the
reference behavior it re-expresses (reference is R/lubridate/stringr).
"""

from __future__ import annotations

from collections.abc import Iterable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# --- F1: multi-format timestamp parsing -----------------------------------
#
# lubridate's parse_date_time(x, orders=c("YmdHMS","Ymd")) tries each order in
# sequence (ningaloo-etl.Rmd:170-178, tagging-etl.Rmd:387-394,
# turtle-tracks.Rmd:46-54, track_analysis.R:32-37, wastd-api.Rmd:66).
# Spark-first: a coalesce over try_to_timestamp attempts — NULL-safe (ANSI
# mode stays on), codegen'd, and pushdown-friendly.
#
# The reference's five order strings, mapped to concrete Java patterns. R
# orders are separator-agnostic; we enumerate the separator variants the
# feeds actually use.
R_ORDER_PATTERNS: dict[str, list[str]] = {
    "mdyHMS": ["M/d/y H:m:s", "M-d-y H:m:s", "M/d/yyyy H:m:s"],
    "YmdHMS": ["y-M-d H:m:s", "y/M/d H:m:s", "yyyy-MM-dd HH:mm:ss"],
    "Ymd": ["y-M-d", "y/M/d", "yyyyMMdd"],
    "mdYHMOS": ["M/d/y H:m:s", "M/d/yyyy h:m:s a", "M/d/y h:m:s a"],
    "YmdHMSz": ["y-M-d'T'H:m:sXXX", "y-M-d H:m:sXXX", "y-M-d'T'H:m:s'Z'"],
    "adbYHMS": ["EEE, d MMM y H:m:s", "EEE d MMM y H:m:s"],
}


def parse_date_time(col: ColumnOrName, orders: Iterable[str]) -> Column:
    """Try timestamp formats in sequence; first success wins, else NULL.

    ``orders`` entries may be lubridate order strings (keys of
    ``R_ORDER_PATTERNS``) or literal Java datetime patterns.
    """
    patterns: list[str] = []
    for o in orders:
        patterns.extend(R_ORDER_PATTERNS.get(o, [o]))
    c = _col(col)
    return F.coalesce(*[F.try_to_timestamp(c, F.lit(p)) for p in patterns])


# --- F4: recombine a date column with a time-of-day column -----------------
def make_timestamp_from(date_col: ColumnOrName, time_col: ColumnOrName) -> Column:
    """``date.id + hours(hour(t)) + minutes(minute(t)) + seconds(second(t))``
    (ningaloo-etl.Rmd:178, tagging-etl.Rmd:395) as one make_timestamp expr."""
    d, t = _col(date_col), _col(time_col)
    return F.make_timestamp(
        F.year(d), F.month(d), F.dayofmonth(d), F.hour(t), F.minute(t), F.second(t)
    )


# --- F6: season watershed ---------------------------------------------------
#: Dates after this month open the next season (ningaloo-etl.Rmd:164-167,179).
SEASON_WATERSHED_MONTH = 7
#: Dates after this ISO week open the next season (wastd-api.Rmd:48-50,67).
SEASON_WATERSHED_ISOWEEK = 27


def season(col: ColumnOrName) -> Column:
    """Fiscal season: month > watershed → year, else year-1
    (ningaloo-etl.Rmd:164-167,179). Total and monotone over month boundaries.
    """
    c = _col(col)
    return F.when(F.month(c) > SEASON_WATERSHED_MONTH, F.year(c)).otherwise(F.year(c) - 1)


def season_by_isoweek(col: ColumnOrName) -> Column:
    """ISO-week variant: week > watershed → year else year-1 (wastd-api.Rmd:48-50,67)."""
    c = _col(col)
    return F.when(F.weekofyear(c) > SEASON_WATERSHED_ISOWEEK, F.year(c)).otherwise(
        F.year(c) - 1
    )


# --- F12: boolean recode ----------------------------------------------------
def recode_12_to_10(col: ColumnOrName) -> Column:
    """The Access DB encodes yes/no as 1/2; products use 1/0
    (ningaloo-etl.Rmd:159-161,202,289). NULLs pass through untouched."""
    c = _col(col)
    return F.when(c == 2, F.lit(0)).otherwise(c)


# --- F7: southern-hemisphere sign restore ----------------------------------
def restore_southern_sign(col: ColumnOrName) -> Column:
    """Latitudes stored positive in the nesting DB are south of the equator:
    ``-as.numeric(lat)`` (ningaloo-etl.Rmd:259-260)."""
    return -F.abs(_col(col).cast("double"))


# --- P10: patch-by-predicate (in-place indexed update, re-expressed) -------
def patch_where(df: DataFrame, cond: Column, **assignments: Column) -> DataFrame:
    """R's ``df[which(pred), ]$col <- v`` (ningaloo-etl.Rmd:83-84,202,238,289;
    turtle-tracks.Rmd:85-87) as a conditional projection. Rows not matching
    ``cond`` are preserved bit-exactly — required for hash-oracle parity."""
    out = df
    for name, value in assignments.items():
        out = out.withColumn(
            name, F.when(cond, value).otherwise(F.col(name)).alias(name)
        )
    return out


# --- F9: schema sanitation --------------------------------------------------
def sanitize_column_names(df: DataFrame) -> DataFrame:
    """Strip ``*``, replace ``-``/whitespace/``:`` with ``_``, lowercase —
    the feed-header repair of turtle-tracks.Rmd:37-39 / app.R:95-96."""
    import re

    mapping = {
        c: re.sub(r"[-\s:]+", "_", c.replace("*", "")).lower() for c in df.columns
    }
    return df.withColumnsRenamed(mapping)


# --- M7/F13: rescale to [0,1] ----------------------------------------------
def rescale_minmax(col: ColumnOrName) -> Column:
    """``scales::rescale`` (spatial_modelling.Rmd:171-172) as a whole-frame
    WINDOW expression — convenient for small frames, but the unpartitioned
    window collapses to a single task at scale. Prefer
    operators.relational.with_rescaled (agg + broadcast join-back) on
    anything fact-sized."""
    c = _col(col)
    mn = F.min(c).over(_whole_frame_window())
    mx = F.max(c).over(_whole_frame_window())
    return (c - mn) / F.nullif(mx - mn, F.lit(0))


def _whole_frame_window():
    from pyspark.sql.window import Window

    return Window.partitionBy()
