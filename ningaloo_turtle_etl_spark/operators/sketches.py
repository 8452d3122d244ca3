"""Sketch/approximation operators — the cardinality/quantile/heavy-hitter
questions every 100 TB pipeline asks where exact answers cost a full shuffle.

All built on Spark's native sketch aggregates (JVM-side, mergeable,
map-combined): HyperLogLog++ (`approx_count_distinct`), Greenwald-Khanna
(`percentile_approx`), and the Karp-Papadimitriou-Shenker frequent-items
sketch (`DataFrame.freqItems`). Each returns a bounded-size result from ONE
pass — the exact forms (`count(distinct)`, exact medians) need a full
shuffle of the key universe, which is precisely what dies at scale.

Approximate results are deterministic for fixed data/parameters but differ
engine-to-engine, so the registered queries are rows-only; error bounds vs
the exact answers are pinned in tests/test_sketches.py instead.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def approx_distinct(
    df: DataFrame,
    col: str,
    by: Sequence[str] = (),
    rsd: float = 0.05,
) -> DataFrame:
    """HLL++ distinct count (per group if ``by``): one map-combined pass,
    sketch size O(1/rsd²) per group regardless of cardinality."""
    agg = F.approx_count_distinct(col, rsd=rsd).alias(f"approx_distinct_{col}")
    return df.groupBy(*by).agg(agg) if by else df.agg(agg)


def approx_quantiles(
    df: DataFrame,
    col: str,
    probabilities: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
    accuracy: int = 10_000,
    by: Sequence[str] = (),
) -> DataFrame:
    """Greenwald-Khanna quantiles as an aggregate column (per group if
    ``by``): rank error ≤ 1/accuracy, state O(accuracy·log n)."""
    agg = F.percentile_approx(
        col, F.array(*[F.lit(float(p)) for p in probabilities]), accuracy
    ).alias(f"approx_quantiles_{col}")
    return df.groupBy(*by).agg(agg) if by else df.agg(agg)


def heavy_hitters(
    df: DataFrame, cols: Sequence[str], support: float = 0.01
) -> DataFrame:
    """Frequent items with frequency ≥ ``support`` (KPS one-pass sketch;
    may over-report — false positives possible, false negatives not, the
    usual heavy-hitter contract)."""
    return df.freqItems(list(cols), support)


# --- cross-engine portable sketches -----------------------------------------
#
# Spark's built-in sketches (HLL++, GK, KPS above) are engine-specific: the
# same data gives different estimates in DuckDB, Trino, or a different Spark
# version, so they can only ever be rows-only evidence and their state can't
# be exchanged with other systems. The portable variants below fix that by
# building the sketch from md5-derived 32-bit hashes with pure integer/dyadic
# arithmetic — every intermediate is either an integer or an exactly
# representable power of two, so ANY engine with md5() reproduces the sketch
# bit-for-bit (pinned against the DuckDB oracle in portable_sketch_profile).
# That portability is operationally useful at 100 TB: registers computed by
# Spark can be merged with registers computed by a different engine, and the
# estimate is stable under task retries and partition count (max/min are
# order-independent).
#
# HLL (Flajolet et al. 2007): p=8 → m=256 registers, 24-bit remainder,
# stderr ≈ 1.04/√m ≈ 6.5%. KMV (Bar-Yossef et al. 2002): k=256, kth-minimum
# distinct hash, stderr ≈ 1/√(k−2) ≈ 6.3%.

_HLL_P = 8
_HLL_M = 1 << _HLL_P  # 256 registers
_HLL_W = 1 << (32 - _HLL_P)  # 2^24: register-selector remainder modulus
_HLL_RHO_MAX = 32 - _HLL_P + 1  # 25: rho when the remainder is all zeros
# 0.7213/(1 + 1.079/m) * m² precomputed as ONE double literal so both engines
# perform exactly one division — IEEE-deterministic for identical inputs.
_HLL_ALPHA_M2 = 47072.71267120224
_KMV_K = 256


def _h32(col: Column | str) -> Column:
    """First 32 bits of md5(value-as-string) as a long — the engine-portable
    hash family established in operators/curation.py:_sample_hash. NULL in
    → NULL out; the sketch builders below filter NULLs first so sketches
    agree with countDistinct (which ignores NULLs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")


def portable_hll_registers(
    df: DataFrame, col: str, by: Sequence[str] = ()
) -> DataFrame:
    """Per-group HLL register table ``(*by, bucket, mr)`` — the mergeable
    sketch state (merge = groupBy(bucket).max(mr), proven in
    tests/test_sketches.py). Distinct (group, hash) pairs are 8-byte rows
    partially aggregated map-side; the register table is ≤ m rows per group
    regardless of cardinality."""
    h = _h32(col)
    d = df.filter(F.col(col).isNotNull()).select(*by, h.alias("h32")).distinct()
    w = F.col("h32") % F.lit(_HLL_W)
    rho = F.when(w == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_RHO_MAX) - F.length(F.bin(w))
    )
    b = d.select(
        *by,
        F.floor(F.col("h32") / F.lit(_HLL_W)).cast("long").alias("bucket"),
        rho.alias("rho"),
    )
    return b.groupBy(*by, "bucket").agg(F.max("rho").alias("mr"))


def portable_hll_estimate(registers: DataFrame, by: Sequence[str] = ()) -> DataFrame:
    """HLL estimate per group from a register table: raw = α·m²/Σ2^−Mj with
    the standard linear-counting correction below 2.5m (Flajolet et al.
    §4). Σ2^−Mj is a sum of exact dyadic rationals (granularity 2^−25, well
    inside double's 53-bit mantissa) so it is bit-identical across engines
    and partition orders; the estimate is then ONE division of identical
    doubles. 32-bit large-range correction (E > 2^32/30 ≈ 143M) is out of
    range for a 256-register profile sketch and deliberately omitted."""
    agg = registers.groupBy(*by).agg(
        (F.sum(F.pow(F.lit(2.0), -F.col("mr"))) + (F.lit(_HLL_M) - F.count(F.lit(1))))
        .alias("sum_inv"),
        (F.lit(_HLL_M) - F.count(F.lit(1))).alias("zeros"),
    )
    raw = F.lit(_HLL_ALPHA_M2) / F.col("sum_inv")
    est = F.when(
        (raw <= F.lit(2.5 * _HLL_M)) & (F.col("zeros") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("zeros")),
    ).otherwise(raw)
    return agg.select(*by, est.alias("hll_raw"), "zeros")


def _kmv_ranked(
    df: DataFrame, col: str, by: Sequence[str], k: int
) -> DataFrame:
    """Shared KMV core: distinct (group, 32-bit hash) pairs, gated by the
    broadcast ceil(2^32·8k/n) threshold so only k-minimum candidates reach
    the rank window, with ``rn`` (ascending hash rank) and ``_kmv_n`` (the
    group's full distinct-hash count) attached."""
    from pyspark.sql.window import Window

    d = (
        df.filter(F.col(col).isNotNull())
        .select(*by, _h32(col).alias("h32"))
        .distinct()
    )
    keys = list(by)
    counts = d.groupBy(*by).agg(F.count(F.lit(1)).alias("_kmv_n"))
    thresh = F.when(
        F.col("_kmv_n") < F.lit(8 * k), F.lit(4294967296)
    ).otherwise(
        F.ceil(F.lit(4294967296.0) * F.lit(8.0 * k) / F.col("_kmv_n")).cast("long")
    )
    dim = F.broadcast(counts.select(*by, F.col("_kmv_n"), thresh.alias("_kmv_t")))
    gated = (
        d.join(dim, on=keys) if keys else d.crossJoin(dim)
    ).filter(F.col("h32") < F.col("_kmv_t"))
    part = Window.partitionBy(*[F.col(c) for c in by]) if by else Window.partitionBy(
        F.lit(1)
    )
    return gated.select(
        *by,
        "h32",
        "_kmv_n",
        F.row_number().over(part.orderBy("h32")).alias("rn"),
    )


def kmv_sketch(
    df: DataFrame, col: str, by: Sequence[str] = (), k: int = _KMV_K
) -> DataFrame:
    """The KMV sketch itself as a first-class table: the ≤k smallest
    distinct hashes per group (all of them when the group holds fewer).
    ≤ k rows per group regardless of cardinality — small enough to store,
    ship, or hand to another engine; supports set algebra downstream
    (kmv_jaccard_pairs) because k-min(S_A ∪ S_B) = k-min(k-min(A) ∪
    k-min(B))."""
    r = _kmv_ranked(df, col, by, k)
    # rn never exceeds the group's gated row count, so rn <= k alone keeps
    # "everything" for groups with fewer than k distinct hashes.
    return r.filter(F.col("rn") <= F.lit(k)).select(*by, "h32")


def kmv_jaccard_pairs(
    df: DataFrame, col: str, group_col: str, k: int = _KMV_K
) -> DataFrame:
    """Pairwise Jaccard similarity between every two groups' value sets,
    estimated from their KMV sketches alone (Beyer et al., SIGMOD 2007:
    J ≈ |S ∩ S_A ∩ S_B| / |S| where S = k smallest of the merged
    sketches) — exact when the merged universe fits in k. This is how you
    compare two 100 TB corpora without shuffling either: everything after
    the per-group sketch touches ≤ groups²·k fixed-width rows.

    Output per unordered pair: ``group_a < group_b``, ``sample_size``
    (=|S|), ``n_common``, ``jaccard_est`` (all integers plus one rounded
    division — engine-portable, DuckDB-oracle-provable)."""
    from pyspark.sql.window import Window

    from ningaloo_turtle_etl_spark.operators.cache import track_cache

    # The sketch lineage (corpus distinct + rank window) is referenced three
    # times below (group list + both join sides); persist the ≤ groups·k-row
    # result so the expensive pass runs once. Released via the shared cache
    # tracker (operators.cache.release_tracked_caches / tracked_cache_scope)
    # after the caller consumes the lazy result.
    sk = track_cache(kmv_sketch(df, col, by=[group_col], k=k).persist())
    groups = sk.select(F.col(group_col).alias("ga")).distinct()
    pairs = F.broadcast(
        groups.join(
            groups.select(F.col("ga").alias("gb")), F.col("ga") < F.col("gb")
        )
    )
    side_a = pairs.join(
        sk.select(F.col(group_col).alias("ga"), "h32"), on="ga"
    ).select("ga", "gb", "h32", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    side_b = pairs.join(
        sk.select(F.col(group_col).alias("gb"), "h32"), on="gb"
    ).select("ga", "gb", "h32", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    merged = (
        side_a.unionByName(side_b)
        .groupBy("ga", "gb", "h32")
        .agg(F.max("in_a").alias("ia"), F.max("in_b").alias("ib"))
    )
    w = Window.partitionBy("ga", "gb").orderBy("h32")
    topk = merged.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= F.lit(k)
    )
    res = topk.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).alias("sample_size"),
        F.sum(F.col("ia") * F.col("ib")).alias("n_common"),
    )
    return res.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        "sample_size",
        "n_common",
        F.round(
            F.col("n_common").cast("double") / F.col("sample_size"), 6
        ).alias("jaccard_est"),
    )


def portable_kmv_estimate(
    df: DataFrame, col: str, by: Sequence[str] = (), k: int = _KMV_K
) -> DataFrame:
    """KMV distinct estimate per group: (k−1)·2^32 / (kth smallest distinct
    32-bit hash); exact count when the group holds < k distinct hashes (the
    sketch then contains everything). Hash collisions are removed by the
    distinct, so the row_number order is tie-free and deterministic.

    Scale shape: the kth-min window never sees the full hash set. A small
    per-group dim (n_distinct) broadcasts back and gates the window input to
    hashes below ceil(2^32·8k/n) — only candidates for the k minimum
    survive, ~8k rows/group in expectation. The gate cannot drop the true
    kth min in any practical universe: that needs Binomial(n, 8k/n) < k,
    P ≤ exp(−8k·(7/8)²/2) ≈ e^−784 for k=256 — and the DuckDB oracle
    (which takes no gate) would catch it as a hash mismatch. Groups with
    n < 8k keep every hash, so the exact-count fallback path is unaffected."""
    ranked = _kmv_ranked(df, col, by, k)
    kth = ranked.filter(
        F.col("rn")
        == F.when(F.col("_kmv_n") < F.lit(k), F.col("_kmv_n")).otherwise(F.lit(k))
    )
    # (k−1)·2^32 derived from the ACTUAL k — exact in double for any sane k.
    numerator = float((k - 1) * 4294967296)
    est = F.when(
        F.col("_kmv_n") < F.lit(k), F.col("_kmv_n").cast("double")
    ).otherwise(F.lit(numerator) / F.col("h32"))
    return kth.select(*by, est.alias("kmv_raw"))


def sampled_item_frequencies(
    df: DataFrame,
    item_col: str,
    id_col: str,
    rate: float,
    by: Sequence[str] = (),
) -> DataFrame:
    """Frequency estimation from a deterministic row sample — the portable
    heavy-hitter profile (Misra-Gries/SpaceSaving state is merge-order-
    dependent, so it can never be engine-portable; a hash-rate sample is).
    Rows whose md5-of-id falls under ``rate``·2^32 are counted exactly and
    scaled by 1/rate. NOTE the sampling unit is the ID (a document, when
    items are exploded tokens sharing their doc's id), so this is CLUSTER
    sampling: Var(est) = ((1−rate)/rate)·Σ_d c_d² over per-id item counts
    c_d — wider than the per-occurrence binomial when occurrences clump
    into few ids (bound pinned in tests/test_sketches.py). Heavy items are
    tight, the long tail is noisy — the heavy-hitter contract. Map-side gate (the sample
    predicate reaches the scan), one item-keyed aggregation over ~rate of
    the data, retry-stable and bit-identical in any engine with md5().

    Output: (*by, item, n_sample, est_n) — est_n = n_sample/rate rounded
    to 4dp."""
    from ningaloo_turtle_etl_spark.operators.curation import (
        _rate_threshold,
        _sample_hash,
    )

    # rate >= 1.0 must short-circuit (same guard as curation.
    # deterministic_stratified_sample): the 9-hex-char threshold for 1.0
    # would lpad-truncate and silently keep ~1/16 of rows.
    kept = (
        df
        if rate >= 1.0
        else df.filter(_sample_hash(id_col) < _rate_threshold(F.lit(float(rate))))
    )
    agg = kept.groupBy(*by, F.col(item_col).alias("item")).agg(
        F.count(F.lit(1)).alias("n_sample")
    )
    return agg.select(
        *by,
        "item",
        "n_sample",
        F.round(F.col("n_sample") / F.lit(float(rate)), 4).alias("est_n"),
    )


def portable_binned_quantiles(
    df: DataFrame,
    col: str,
    probabilities: Sequence[float],
    by: Sequence[str] = (),
    n_bins: int = 1024,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Engine-portable quantiles from a fixed-grid histogram: values land in
    ``n_bins`` equal-width bins over [lo, hi] (bounds from one global
    min/max pass when not given), the per-group histogram cumulates, and
    each probability interpolates linearly inside its target bin. Rank
    error ≤ one bin width of the value range.

    Why not percentile_approx: GK sketches are engine-specific (rows-only
    evidence, state locked into one engine). A fixed grid is the portable
    alternative — histograms merge by bin-wise addition across shards or
    engines, every step is deterministic double arithmetic identical in
    DuckDB (`portable_quantile_profile` proves it), and the state is
    n_bins·groups rows. The trade: a global [lo, hi] pass first, and rank
    error degrades if the range is dominated by outliers (winsorize first,
    or pass explicit bounds)."""
    from pyspark.sql.window import Window

    bad = [p for p in probabilities if not (0.0 < p <= 1.0)]
    if bad:
        raise ValueError(
            f"probabilities must be in (0, 1]: {bad} (p=0 has no containing "
            "bin; ask for the min separately)"
        )
    spark = df.sparkSession
    src = df.filter(F.col(col).isNotNull())
    if lo is None or hi is None:
        bounds = src.agg(
            F.min(col).cast("double").alias("_lo"), F.max(col).cast("double").alias("_hi")
        )
    else:
        bounds = spark.range(1).select(
            F.lit(float(lo)).alias("_lo"), F.lit(float(hi)).alias("_hi")
        )
    # Clamp BOTH sides (below-lo values land in bin 0, above-hi in the top
    # bin — with explicit bounds outliers otherwise produce negative bins
    # and estimates outside [lo, hi]), and guard the degenerate constant
    # column (hi == lo → everything is bin 0; ANSI mode would raise
    # DIVIDE_BY_ZERO on the grid division).
    raw_bin = F.floor(
        (F.col(col).cast("double") - F.col("_lo"))
        * F.lit(float(n_bins))
        / (F.col("_hi") - F.col("_lo"))
    )
    bin_expr = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.greatest(F.lit(0), F.least(F.lit(n_bins - 1), raw_bin))
    )
    binned = src.crossJoin(F.broadcast(bounds)).select(
        *by,
        "_lo",
        "_hi",
        bin_expr.cast("long").alias("bin"),
    )
    hist = binned.groupBy(*by, "_lo", "_hi", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    part = (
        Window.partitionBy(*[F.col(c) for c in by])
        if by
        else Window.partitionBy(F.lit(1))
    )
    cum = hist.select(
        *by,
        "_lo",
        "_hi",
        "bin",
        "n",
        F.sum("n").over(part.orderBy("bin")).alias("cum"),
        F.sum("n").over(part).alias("tot"),
    )
    probs = spark.createDataFrame(
        [(float(p),) for p in probabilities], "p double"
    )
    target = F.col("p") * F.col("tot")
    sel = cum.crossJoin(F.broadcast(probs)).filter(
        (F.col("cum") >= target) & ((F.col("cum") - F.col("n")) < target)
    )
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
    est = F.col("_lo") + width * (
        F.col("bin")
        + (target - (F.col("cum") - F.col("n"))) / F.col("n")
    )
    return sel.select(*by, "p", F.round(est, 4).alias("q_est"))


def portable_sketch_report(
    df: DataFrame, col: str, by: Sequence[str] = ()
) -> DataFrame:
    """Exact distinct + portable HLL + portable KMV side-by-side per group,
    with relative errors — the engine-portable counterpart of
    distinct_vs_approx_report (and, unlike it, DuckDB-oracle-provable).
    The exact column is the point of a CALIBRATION query (it shuffles the
    raw key universe); a pure profiling pass at scale drops it and keeps
    only the sketch branches."""
    exact = df.groupBy(*by).agg(F.countDistinct(col).alias("exact_distinct"))
    hll = portable_hll_estimate(portable_hll_registers(df, col, by=by), by=by)
    kmv = portable_kmv_estimate(df, col, by=by)
    keys = list(by)
    out = exact.join(hll, on=keys).join(kmv, on=keys)
    hll_e = F.round(F.col("hll_raw"), 4)
    kmv_e = F.round(F.col("kmv_raw"), 4)
    return out.select(
        *by,
        "exact_distinct",
        hll_e.alias("hll_estimate"),
        kmv_e.alias("kmv_estimate"),
        F.round(
            F.abs(hll_e - F.col("exact_distinct")) / F.col("exact_distinct"), 4
        ).alias("hll_rel_err"),
        F.round(
            F.abs(kmv_e - F.col("exact_distinct")) / F.col("exact_distinct"), 4
        ).alias("kmv_rel_err"),
    )


def distinct_vs_approx_report(
    df: DataFrame, col: str, by: Sequence[str], rsd: float = 0.05
) -> DataFrame:
    """Side-by-side exact vs HLL++ distinct per group with relative error —
    the calibration query you run at small scale before trusting the sketch
    at large scale."""
    exact = df.groupBy(*by).agg(F.countDistinct(col).alias("exact"))
    approx = approx_distinct(df, col, by=by, rsd=rsd).withColumnRenamed(
        f"approx_distinct_{col}", "approx"
    )
    joined = exact.join(approx, on=list(by))
    return joined.withColumn(
        "rel_error",
        F.round(F.abs(F.col("approx") - F.col("exact")) / F.col("exact"), 6),
    )


def _cm_col(item: Column, row: int, width: int) -> Column:
    """Count-min column index for hash row ``row``: the portable-md5 hash
    of ``item || '|' || row`` mod width. One independent-by-seed hash per
    row, same family as _h32 so any engine with md5() reproduces the
    table bit-for-bit."""
    seeded = F.concat(item.cast("string"), F.lit(f"|{row}"))
    return (
        F.conv(F.substring(F.md5(seeded), 1, 8), 16, 10).cast("long")
        % F.lit(int(width))
    ).alias(f"_c{row}")


def countmin_table(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 512,
    by: Sequence[str] = (),
) -> DataFrame:
    """Count-min sketch (Cormode-Muthukrishnan 2005) as a first-class
    ``(*by, row, col, n)`` cell table: each item occurrence increments one
    cell per hash row; a point estimate is the MIN over its depth cells —
    always an overestimate, off by at most ~2N/width with probability
    1 - 2^-depth.

    Scale shape: the explode is map-side (depth small struct rows per
    item), the aggregate is partial — the shuffle carries at most
    depth × width cells per group regardless of input size, and two
    sketches merge by cell-wise addition (proven in tests). This is the
    frequency counterpart of the HLL register table above: fixed-size,
    mergeable, engine-portable state."""
    item = F.col(item_col)
    cells = (
        df.filter(item.isNotNull())
        .select(
            *by,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("row"),
                            _cm_col(item, r, width).alias("col"),
                        )
                        for r in range(depth)
                    ]
                )
            ).alias("_cell"),
        )
        .select(*by, F.col("_cell.row").alias("row"), F.col("_cell.col").alias("col"))
    )
    return cells.groupBy(*by, "row", "col").agg(
        F.count(F.lit(1)).alias("n")
    )


def countmin_estimate(
    cm: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 512,
    by: Sequence[str] = (),
) -> DataFrame:
    """Point-frequency estimates for ``items`` against a countmin_table
    built with the SAME (depth, width): re-derive each item's depth
    (row, col) addresses, broadcast-join the cell table (≤ depth × width
    rows per group — always broadcastable), min over rows. Items absent
    from the sketch get estimate 0 via the outer join."""
    item = F.col(item_col)
    addr = items.select(
        *by,
        item_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cm_col(item, r, width).alias("col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("_cell"),
    ).select(*by, item_col, F.col("_cell.row").alias("row"), F.col("_cell.col").alias("col"))
    joined = addr.join(F.broadcast(cm), on=[*by, "row", "col"], how="left")
    return joined.groupBy(*by, item_col).agg(
        F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cm_estimate")
    )


def rolling_distinct_hll(
    df: DataFrame,
    col: str,
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Rolling-window distinct count (DAU/WAU/stickiness) the sketch way:
    daily portable-HLL registers merged register-wise (max) over a
    ``window_days`` trailing window, plus the exact counts for
    calibration. Exact rolling distinct needs the raw (window, key)
    universe — every day re-shuffles up to window x daily keys; the HLL
    form carries 256 8-byte registers per day and merges them with a
    days x window x 256 join, independent of cardinality. At 100 TB the
    exact columns are the first thing to drop (they exist here so the
    oracle can grade the sketch against truth).

    Output: one row per active day — (day, dau_exact, wau_exact, wau_hll,
    stickiness = dau/wau_exact), hll rounded 4dp, stickiness 6dp."""
    day = F.to_date(ts_col)
    daily = df.select(day.alias("d"), F.col(col))
    regs = portable_hll_registers(daily, col, by=["d"])
    days = regs.select("d").distinct()
    a, b = days.alias("a"), days.alias("b")
    pairs = a.join(
        b,
        on=[
            F.col("b.d") <= F.col("a.d"),
            F.datediff(F.col("a.d"), F.col("b.d")) < F.lit(int(window_days)),
        ],
    ).select(F.col("a.d").alias("d"), F.col("b.d").alias("src"))
    merged = (
        pairs.join(regs.withColumnRenamed("d", "src"), on="src")
        .groupBy("d", "bucket")
        .agg(F.max("mr").alias("mr"))
    )
    est = portable_hll_estimate(merged, by=["d"]).select(
        "d", F.round(F.col("hll_raw"), 4).alias("wau_hll")
    )
    dau = daily.groupBy("d").agg(F.countDistinct(col).alias("dau_exact"))
    wau = (
        pairs.join(
            daily.select(F.col("d").alias("src"), F.col(col)).distinct(),
            on="src",
        )
        .groupBy("d")
        .agg(F.countDistinct(col).alias("wau_exact"))
    )
    return (
        dau.join(wau, on="d")
        .join(est, on="d")
        .select(
            F.col("d").alias("day"),
            "dau_exact",
            "wau_exact",
            "wau_hll",
            F.round(
                F.col("dau_exact") / F.col("wau_exact").cast("double"), 6
            ).alias("stickiness"),
        )
    )


def rolling_binned_quantile(
    df: DataFrame,
    col: str,
    ts_col: str,
    probabilities: Sequence[float],
    window_days: int = 7,
    n_bins: int = 1000,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Rolling-window quantiles the mergeable-sketch way: per-day
    fixed-grid histograms (EXPLICIT [lo, hi] so every day shares the
    grid), merged bin-wise over the trailing ``window_days`` window, then
    the same cumulate-and-interpolate read `portable_binned_quantiles`
    uses. The rolling-p95 latency/size monitor: exact rolling quantiles
    re-sort the raw (window x day-volume) union every day; this merges
    days x n_bins counters instead — the same
    state-moves-not-data argument as `rolling_distinct_hll`, applied to
    quantiles. Rank error <= one bin width of [lo, hi].

    Output: one row per (day, p) — (day, n_rows, p, q_est 4dp) with
    n_rows the merged window row count.

    Scale shape: one map-side-combined (day, bin) aggregate over raw
    rows (the only fact pass); the window merge is a days x window x
    bins join-aggregate; interpolation runs on the days x bins grid."""
    if hi <= lo:
        raise ValueError("hi must be > lo")
    bad = [p for p in probabilities if not (0.0 < p <= 1.0)]
    if bad:
        raise ValueError(f"probabilities must be in (0, 1]: {bad}")
    from pyspark.sql.window import Window

    spark = df.sparkSession
    day = F.to_date(ts_col)
    raw_bin = F.floor(
        (F.col(col).cast("double") - F.lit(float(lo)))
        * F.lit(float(n_bins))
        / F.lit(float(hi - lo))
    )
    bin_expr = F.greatest(
        F.lit(0), F.least(F.lit(int(n_bins) - 1), raw_bin)
    ).cast("long")
    hist = (
        df.filter(F.col(col).isNotNull())
        .select(day.alias("src"), bin_expr.alias("bin"))
        .groupBy("src", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    days = hist.select("src").distinct()
    a, b = days.alias("a"), days.select(F.col("src").alias("d")).alias("b")
    pairs = b.join(
        a,
        on=[
            F.col("a.src") <= F.col("b.d"),
            F.datediff(F.col("b.d"), F.col("a.src"))
            < F.lit(int(window_days)),
        ],
    ).select("d", "src")
    merged = (
        pairs.join(hist, on="src")
        .groupBy("d", "bin")
        .agg(F.sum("n").alias("n"))
    )
    part = Window.partitionBy("d")
    cum = merged.select(
        "d",
        "bin",
        "n",
        F.sum("n").over(part.orderBy("bin")).alias("cum"),
        F.sum("n").over(part).alias("tot"),
    )
    probs = spark.createDataFrame(
        [(float(p),) for p in probabilities], "p double"
    )
    target = F.col("p") * F.col("tot")
    sel = cum.crossJoin(F.broadcast(probs)).filter(
        (F.col("cum") >= target) & ((F.col("cum") - F.col("n")) < target)
    )
    width = F.lit(float(hi - lo)) / F.lit(float(n_bins))
    est = F.lit(float(lo)) + width * (
        F.col("bin") + (target - (F.col("cum") - F.col("n"))) / F.col("n")
    )
    return sel.select(
        F.col("d").alias("day"),
        F.col("tot").alias("n_rows"),
        "p",
        F.round(est, 4).alias("q_est"),
    )
