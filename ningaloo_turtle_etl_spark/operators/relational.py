"""Relational core — SURVEY.md §2.2-§2.7 (joins, aggregations, dedup, pivot).

Design: thin, composable helpers over the DataFrame API. No planner of our
own — each helper returns a lazy DataFrame and Catalyst chooses the physical
strategy (broadcast-hash for the tiny dims, sort-merge + AQE skew splitting
for fact-fact joins).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window


# --- J4: natural join (dplyr's implicit-key inner_join) ---------------------
def natural_join(left: DataFrame, right: DataFrame, how: str = "inner") -> DataFrame:
    """dplyr ``inner_join(a, b)`` with no ``by`` joins on *all shared column
    names* (ningaloo-etl.Rmd:314,366). Key inference happens at plan-build
    time; order follows the left frame's column order so results are stable.
    """
    shared = [c for c in left.columns if c in set(right.columns)]
    if not shared:
        raise ValueError("natural_join: no shared columns between inputs")
    return left.join(right, on=shared, how=how)


# --- J6: lookup-resolve chain ----------------------------------------------
def resolve_lookups(
    fact: DataFrame,
    lookups: Sequence[tuple[DataFrame, str]],
    drop_keys: bool = True,
) -> DataFrame:
    """Chain of left joins to small dimension tables, then drop the id cols
    (ningaloo-etl.Rmd:273-277). Every lookup is broadcast — at 100 TB the
    fact side never shuffles for these."""
    out = fact
    for dim, key in lookups:
        out = out.join(F.broadcast(dim), on=key, how="left")
        if drop_keys:
            out = out.drop(key)
    return out


# --- J5/J8: referential-integrity joins ------------------------------------
def orphans(fact: DataFrame, parent: DataFrame, on: str | list[str]) -> DataFrame:
    """Anti-join orphan detection (ningaloo-etl.Rmd:402-405)."""
    return fact.join(parent, on=on, how="left_anti")


def with_parent_only(fact: DataFrame, parent: DataFrame, on: str | list[str]) -> DataFrame:
    """Semi-join existence filter — FlipperTagExists/PitTagExists semantics
    (tagging-etl.Rmd:179-184)."""
    return fact.join(parent, on=on, how="left_semi")


# --- P11: duplicated() ------------------------------------------------------
def duplicated_rows(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str | Column | Sequence[str | Column] | None = None,
) -> DataFrame:
    """R ``df[duplicated(df$key), ]`` — rows whose key appeared earlier
    (ningaloo-etl.Rmd:377). ``order_by`` defines which occurrence counts as
    "first"; order by every non-key output column to make the result a
    deterministic multiset even when full duplicates exist. Without it we
    fall back to the key itself (stable for the count-style QA the reference
    runs)."""
    if order_by is None:
        ordering: list = [keys[0]]
    elif isinstance(order_by, (str, Column)):
        ordering = [order_by]
    else:
        ordering = list(order_by)
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .drop("_rn")
    )


def distinct_combinations(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A9: "unique combinations of subsection and date" framing
    (ningaloo-etl.Rmd:295-311) — dedup by grouping, key columns only."""
    return df.select(*keys).distinct()


# --- A1-A3: group-count and pivot ------------------------------------------
def group_count(
    df: DataFrame, keys: Sequence[str], sort_desc: bool = False, name: str = "n"
) -> DataFrame:
    """``group_by(...) %>% tally(...)`` — the reference's workhorse (≥12 call
    sites, e.g. ningaloo-etl.Rmd:309-311, turtle-tracks.Rmd:93-103). Spark
    runs this as partial (map-side) + final hash aggregation."""
    out = df.groupBy(*keys).agg(F.count(F.lit(1)).alias(name))
    if sort_desc:
        out = out.orderBy(F.desc(name))
    return out


def count_pivot(
    df: DataFrame,
    keys: Sequence[str],
    pivot_col: str,
    values: Sequence[str] | None = None,
    fill: int = 0,
) -> DataFrame:
    """``spread(species_name, n, fill=0)`` after a tally
    (ningaloo-etl.Rmd:308-315,321-329,361-368; wastd-api.Rmd:72).

    Pass ``values`` explicitly (the reference's species list is closed:
    Green/Loggerhead/Hawksbill/Flatback/Unidentified) to skip the extra
    distinct-scan job Spark otherwise runs — one less pass at 100 TB.
    """
    pivoted = (
        df.groupBy(*keys).pivot(pivot_col, list(values) if values is not None else None).count()
    )
    value_cols = [c for c in pivoted.columns if c not in keys]
    return pivoted.na.fill(fill, subset=value_cols)


# --- A7: histogram binning --------------------------------------------------
def histogram(df: DataFrame, col: str, binwidth: float, name: str = "n") -> DataFrame:
    """``stat_bin(binwidth=…)`` (wastd-api.Rmd:43-45) as floor-bucket counts —
    a single hash aggregation, no driver-side histogramming."""
    bucket = (F.floor(F.col(col) / F.lit(binwidth)) * F.lit(binwidth)).alias("bin")
    return df.groupBy(bucket).agg(F.count(F.lit(1)).alias(name))


# --- §2.5: encounter-order window products ---------------------------------
def with_observation_status(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    season_col: str,
    name: str = "observation_status",
) -> DataFrame:
    """ObservationStatus ∈ {Initial, Remigrant, Resighting} — first-vs-
    subsequent encounter logic described as T-SQL in tagging-etl.Rmd:188-196:
    first observation of an entity → Initial; later observation in a *new*
    season → Remigrant; later observation in the same season → Resighting.
    """
    w = Window.partitionBy(entity_col).orderBy(time_col)
    prev_season = F.lag(season_col).over(w)
    return df.withColumn(
        name,
        F.when(prev_season.isNull(), F.lit("Initial"))
        .when(F.col(season_col) != prev_season, F.lit("Remigrant"))
        .otherwise(F.lit("Resighting")),
    )


# --- P4: predicate-based column selection ----------------------------------
def select_regex(df: DataFrame, pattern: str) -> DataFrame:
    """dplyr ``select(starts_with('PCNM'))`` (spatial_modelling.Rmd:221,
    239-241): column keep-list by regex over names, preserving order."""
    import re

    rx = re.compile(pattern)
    keep = [c for c in df.columns if rx.match(c)]
    if not keep:
        raise ValueError(f"select_regex: no columns match {pattern!r}")
    return df.select(*keep)


# --- A8/U3: per-group rendered sub-table -----------------------------------
def grouped_html_table(
    df: DataFrame, group_col: str, value_cols: Sequence[str], name: str = "html"
) -> DataFrame:
    """``group_by(subsection) %>% htmlTable()`` / make_popup
    (tagging_etl.R:25-32, ningaloo-etl.Rmd:336-344): one HTML table string
    per group. Pure aggregation — rows become <tr> strings, sorted for
    determinism, concatenated per group. No Python in the loop. Cell values
    are HTML-escaped (&, <, > — in that order) so free-text columns can't
    emit malformed or injectable markup (r04 review); the oracle's numeric
    fixture needs no escaping, but string cells do."""

    def esc(c: Column) -> Column:
        out = c
        for raw, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
            out = F.replace(out, F.lit(raw), F.lit(ent))
        return out

    # NULL cells render as empty <td> — F.concat is null-propagating, and a
    # NULL row string would then be silently dropped by collect_list.
    row_html = F.concat(
        F.lit("<tr>"),
        *[
            F.concat(
                F.lit("<td>"),
                esc(F.coalesce(F.col(c).cast("string"), F.lit(""))),
                F.lit("</td>"),
            )
            for c in value_cols
        ],
        F.lit("</tr>"),
    )
    header = "<tr>" + "".join(f"<th>{c}</th>" for c in value_cols) + "</tr>"
    return df.groupBy(group_col).agg(
        F.concat(
            F.lit(f"<table>{header}"),
            F.concat_ws("", F.array_sort(F.collect_list(row_html))),
            F.lit("</table>"),
        ).alias(name)
    )


# --- A10: pairwise distance matrix (long form) -----------------------------
def pairwise_distances(
    df: DataFrame,
    id_col: str,
    coord_cols: Sequence[str],
    max_distance: float | None = None,
) -> DataFrame:
    """``dist(X)`` (spatial_modelling.Rmd:217,223) as the long (i<j, d)
    relation. The reference materializes the full n×n matrix in memory; here
    the self-join emits pairs and ``max_distance`` prunes the quadratic
    blow-up (the τ-threshold trick) — at scale, pre-bucket coordinates so
    the join key bounds candidates instead of a full cross."""
    sel = df.select(F.col(id_col).alias("id"), *coord_cols)
    a, b = sel.alias("a"), sel.alias("b")
    d2 = sum(
        (F.col(f"a.{c}") - F.col(f"b.{c}")) * (F.col(f"a.{c}") - F.col(f"b.{c}"))
        for c in coord_cols
    )
    pairs = a.join(b, on=[F.col("a.id") < F.col("b.id")]).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.sqrt(d2).alias("dist")
    )
    if max_distance is not None:
        pairs = pairs.filter(F.col("dist") <= max_distance)
    return pairs


def encounter_history_pivot(
    df: DataFrame,
    entity_col: str,
    season_col: str,
    seasons: Sequence[int | str],
) -> DataFrame:
    """The MARK capture-history matrix (wastd-api.Rmd:69-72; tag-history
    product tagging-etl.Rmd:434-437): one column per season, cell = 1 if the
    entity was encountered that season else 0 — groupBy+pivot+count clamped
    to 0/1."""
    wide = df.groupBy(entity_col).pivot(season_col, list(seasons)).count()
    return wide.select(
        entity_col,
        *[
            F.when(F.col(str(s)).isNotNull() & (F.col(str(s)) > 0), 1)
            .otherwise(0)
            .alias(str(s))
            for s in seasons
        ],
    )


# --- M7: windowed min-max rescale ------------------------------------------
def with_rescaled(
    df: DataFrame, col: str, name: str | None = None, by: Iterable[str] = ()
) -> DataFrame:
    """``scales::rescale`` to [0,1] (spatial_modelling.Rmd:171-172), optionally
    per group. Implemented as agg + broadcast join-back rather than an
    unpartitioned window: a whole-frame window collapses to one task at scale.
    """
    name = name or f"{col}_rescaled"
    by = list(by)
    bounds = df.groupBy(*by).agg(
        F.min(col).alias("_mn"), F.max(col).alias("_mx")
    )
    joined = (
        df.join(F.broadcast(bounds), on=by, how="left")
        if by
        else df.crossJoin(F.broadcast(bounds))
    )
    scaled = (F.col(col) - F.col("_mn")) / F.nullif(
        F.col("_mx") - F.col("_mn"), F.lit(0)
    )
    return joined.withColumn(name, scaled).drop("_mn", "_mx")


#: Above this input size winsorize's auto mode switches from the exact
#: (column-buffering) percentile to the mergeable approx_percentile sketch.
WINSORIZE_EXACT_MAX_ROWS = 10_000_000


def winsorize(
    df: DataFrame,
    col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    name: str | None = None,
    exact: bool | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """Winsorize/clip ``col`` to its [lower, upper] quantiles — the standard
    outlier-robust cleaning step before aggregating skewed measures. Same
    agg + broadcast join-back shape as ``rescale_minmax`` (no unpartitioned
    window).

    ``exact=True`` uses Spark's exact interpolated ``percentile`` — its
    aggregation buffers the column in one agg group, which is fine up to
    ~10⁷ rows and is bit-identical to DuckDB's ``quantile_cont`` (what
    makes the oracle row possible). ``exact=False`` uses
    ``approx_percentile`` (relative-error sketch, mergeable, bounded
    memory) — same plan shape, approximate cut points, the only safe
    choice at 100 TB. The default ``exact=None`` AUTO-SELECTS by input
    size (≤ ``WINSORIZE_EXACT_MAX_ROWS`` rows → exact), so a caller who
    forgets the flag can no longer buffer a 100 TB column by accident
    (r03 watch item). The auto probe runs ONE eager ``count()`` at
    plan-construction time — metadata-cheap on a bare parquet scan but a
    full execution of a derived (joined/filtered) plan — so pass ``exact``
    explicitly on expensive inputs. Streaming frames are rejected outright:
    the global-bounds agg + cross join this operator is built on is
    unsupported in Structured Streaming regardless of the percentile mode —
    winsorize per window with a windowed aggregation instead."""
    if df.isStreaming:
        raise ValueError(
            "winsorize needs a global two-pass bounds computation, which "
            "Structured Streaming cannot run (streaming agg + cross join); "
            "winsorize per window with a windowed aggregation instead"
        )
    if exact is None:
        exact = df.count() <= WINSORIZE_EXACT_MAX_ROWS
    name = name or f"{col}_w"
    pct = (
        F.percentile(col, F.lit(float(lower)))
        if exact
        else F.approx_percentile(col, F.lit(float(lower)), F.lit(accuracy))
    )
    pct_hi = (
        F.percentile(col, F.lit(float(upper)))
        if exact
        else F.approx_percentile(col, F.lit(float(upper)), F.lit(accuracy))
    )
    bounds = df.agg(pct.alias("_lo"), pct_hi.alias("_hi"))
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(name, F.greatest(F.least(F.col(col), F.col("_hi")), F.col("_lo")))
        .drop("_lo", "_hi")
    )


def edit_similarity_self_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_edit: int = 1,
    q: int = 3,
) -> DataFrame:
    """String-similarity self-join (Ed-Join family, Xiao et al. 2008):
    all id pairs whose ``text_col`` values are within Levenshtein distance
    ``max_edit``, found WITHOUT the all-pairs product.

    Prefix filtering: one edit operation disturbs at most ``q`` of a
    string's q-grams, so two strings within ``max_edit`` edits share at
    least one gram among each one's ``q·max_edit + 1`` RAREST grams
    (rarity = global gram frequency, ties by gram — any fixed total order
    works; rarest-first makes candidate buckets smallest). Strings are
    padded with q−1 sentinel chars (chr(2)) at BOTH ends first — without
    padding, a string near length q has too few grams for the pigeonhole
    to bite (an edit on "abc" at q=3 disturbs its only gram; caught by
    the brute-force completeness test). Candidates are the prefix-gram
    join, then a length-difference gate, then exact ``levenshtein``
    verification — filter-verify, the same shape as the MinHash pipeline.

    Scale shape: gram frequencies are one vocabulary-sized aggregation;
    prefix election is a per-string window over ≤ len(s) gram rows; the
    candidate join is keyed on rare grams (bounded buckets by
    construction); only id pairs shuffle — strings rejoin once for the
    verify. Returns (id_a, id_b, edit_distance), id_a < id_b."""
    from pyspark.sql.window import Window

    p = q * max_edit + 1
    pad = F.lit(chr(2) * (q - 1))
    s = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_s"))
    padded = F.concat(pad, F.col("_s"), pad)
    grams = s.select(
        "_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length(padded) - q + 1),
                    lambda i: F.substring(padded, i, q),
                )
            )
        ).alias("gram"),
    )
    freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_gf"))
    w = Window.partitionBy("_id").orderBy(F.asc("_gf"), F.asc("gram"))
    from ningaloo_turtle_etl_spark.operators.cache import track_cache

    # Persisted: both self-join branches read it — without the cache the
    # whole gram+freq+window pipeline runs twice (same convention as the
    # minhash signature cache; released via release_tracked_caches/scope).
    prefix = track_cache(
        grams.join(freq, on="gram")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= p)
        .select("_id", "gram")
        .persist()
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), on="gram")
        .where(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("_ida"), F.col("b._id").alias("_idb")
        )
        .distinct()
    )
    sa = s.select(F.col("_id").alias("_ida"), F.col("_s").alias("_sa"))
    sb = s.select(F.col("_id").alias("_idb"), F.col("_s").alias("_sb"))
    return (
        cand.join(sa, on="_ida")
        .join(sb, on="_idb")
        .where(
            (
                F.abs(F.length("_sa") - F.length("_sb")) <= max_edit
            )
            & (F.levenshtein("_sa", "_sb") <= max_edit)
        )
        .select(
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            F.levenshtein("_sa", "_sb").cast("long").alias("edit_distance"),
        )
    )


def moment_profile(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """Four-moment distribution profile per group — mean, population
    variance, skewness g1, excess kurtosis g2 — computed from RAW POWER
    SUMS (Σx, Σx², Σx³, Σx⁴) with the moment formulas written explicitly:
    Spark's skewness()/kurtosis() and DuckDB's use DIFFERENT estimator
    conventions (population g-statistics vs sample G-statistics), so the
    built-ins can never hash-match; explicit power sums make the formula
    the contract, identical in both engines.

        m_k = Σ(x−x̄)^k / n  (expanded in power sums),
        g1 = m3 / m2^1.5,   g2 = m4 / m2² − 3.

    Determinism (repo convention): each per-row power term quantizes to
    a fixed integer grid BEFORE summation — x at 1e-9, x² at 1e-6, x³ at
    1e-3, x⁴ at 1 (per-power scales keep the scaled terms integral-
    double-exact) — and the integer terms sum as DECIMAL(38,0), so the
    accumulation is order-independent, cancellation-free, and overflow-
    free at corpus scale (raw double power sums are summation-order-
    dependent: a last-ulp difference could flip a 6dp boundary between
    engines).

    Returns (by..., n, mean, variance, skewness, kurtosis_excess), 6dp.
    Zero-variance groups report NULL g1/g2 (undefined, both engines).

    Scale shape: one map-side-combining aggregate; the power-sum
    accumulation is the only pass over the data."""
    x = F.col(value_col).cast("double")

    def _q(term, scale: float):
        return F.round(term * F.lit(scale), 0).cast("decimal(38,0)")

    agg = df.groupBy(*[F.col(c) for c in by]).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_q(x, 1e9)).alias("q1"),
        F.sum(_q(x * x, 1e6)).alias("q2"),
        F.sum(_q(x * x * x, 1e3)).alias("q3"),
        F.sum(_q(x * x * x * x, 1e0)).alias("q4"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("q1").cast("double") / F.lit(1e9)
    s2 = F.col("q2").cast("double") / F.lit(1e6)
    s3 = F.col("q3").cast("double") / F.lit(1e3)
    s4 = F.col("q4").cast("double")
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - F.lit(3.0) * m * (s2 / n) + F.lit(2.0) * m * m * m
    m4 = (
        s4 / n
        - F.lit(4.0) * m * (s3 / n)
        + F.lit(6.0) * m * m * (s2 / n)
        - F.lit(3.0) * m * m * m * m
    )
    g1 = F.when(m2 > 0, m3 / (m2 * F.sqrt(m2)))
    g2 = F.when(m2 > 0, m4 / (m2 * m2) - F.lit(3.0))
    return agg.select(
        *by,
        "n",
        F.round(m, 6).alias("mean"),
        F.round(m2, 6).alias("variance"),
        F.round(g1, 6).alias("skewness"),
        F.round(g2, 6).alias("kurtosis_excess"),
    )
