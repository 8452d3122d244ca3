"""Scale mechanics: skew salting and bucketed co-located joins.

AQE's skew-join splitting (on by default in session.py) handles most skew;
these helpers cover the two cases it can't:

- ``salted_join``: a fact-fact join where ONE side has pathological hot keys
  (one key = billions of rows). Salting fans each hot key into S synthetic
  sub-keys; the other side is replicated S ways for those keys only.
- ``write_bucketed`` / co-located reads: repeated joins/aggregations on the
  same key amortize their shuffle by bucketing at write time — both sides
  cluster by hash(key) % buckets, so the join is shuffle-free forever after
  (the classic warehouse layout for a 100 TB fact table).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql.window import Window
from pyspark.sql import DataFrame, SparkSession


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed`` has hot keys: salt the skewed side with a
    random bucket, explode the other side across all buckets, join on
    (key, salt). Shuffle partitions for a hot key go from 1 to
    ``salt_buckets``. The non-skewed side grows by the salt factor — use for
    dim-ish or pre-aggregated right sides; for two huge skewed sides prefer
    AQE skew splitting.

    Only inner/left are supported: an outer join would emit one copy of each
    unmatched ``other`` row per salt bucket."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"salted_join supports inner/left joins, not {how!r}")
    s = skewed.withColumn("_salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    o = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return s.join(o, on=[on, "_salt"], how=how).drop("_salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table. Joins and
    aggregations on ``bucket_cols`` between tables bucketed the same way run
    without a shuffle (verified in tests/test_scale.py)."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def read_table(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


def key_skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """One-row skew profile of a join/aggregation key: total_rows, n_keys,
    max_key_rows, skew_factor (hottest key vs the mean — the salt-bucket
    count salted_join would need to even it out), top10_share (mass in
    the 10 hottest keys) and the Shannon entropy of the key distribution
    (nats; ln(n_keys) = perfectly uniform). The measurement you run
    BEFORE choosing between a plain shuffle, AQE skew splitting, and
    salted_join — guessing skew at 100 TB is how jobs die.

    Scale shape: one map-side-combining count per key, then scalar
    aggregates over the (n_keys)-sized count table; the top-10 is
    TakeOrdered, not a global sort. Entropy via ln(N) - Σ n·ln(n)/N —
    one pass, no per-row log of probabilities."""
    counts = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    counts = counts.persist()
    s = counts.agg(
        F.sum("n").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_key_rows"),
        F.sum(F.col("n") * F.log("n")).alias("_snln"),
    )
    top10 = (
        counts.orderBy(F.desc("n"), F.asc("k"))
        .limit(10)
        .agg(F.sum("n").alias("_top10_rows"))
    )
    return (
        s.crossJoin(top10)
        .select(
            F.lit(key_col).alias("key_col"),
            "total_rows",
            "n_keys",
            "max_key_rows",
            F.round(
                F.col("max_key_rows") * F.col("n_keys") / F.col("total_rows"), 4
            ).alias("skew_factor"),
            F.round(F.col("_top10_rows") / F.col("total_rows"), 6).alias(
                "top10_share"
            ),
            F.round(
                F.log(F.col("total_rows").cast("double"))
                - F.col("_snln") / F.col("total_rows"),
                6,
            ).alias("entropy"),
        )
    )


def gini_concentration(
    df: DataFrame, key_col: str, weight_col: str | None = None
) -> DataFrame:
    """Gini coefficient of mass across ``key_col`` values — the
    corpus-concentration gauge (0 = every source contributes equally,
    -> 1 = one source dominates) that complements key_skew_profile's
    max-based skew factor with a whole-distribution number. Mass is the
    row count, or the integer sum of ``weight_col`` (e.g. characters or
    tokens) when given — token mass is where concentration actually
    bites a training mix.

    G = 2 * sum(i * x_i) / (n * sum(x)) - (n + 1) / n over masses x_i
    sorted ascending (rank ties broken by key — total order). All moments
    are exact integer sums; the only float is the final division.

    Output: one row — (n_keys, total_rows, gini).

    Scale shape: one agg per key (map-side combined); the rank window and
    moments run on the key-cardinality table, never the fact."""
    mass = (
        F.count(F.lit(1)).alias("x")
        if weight_col is None
        else F.sum(F.col(weight_col).cast("long")).alias("x")
    )
    counts = df.groupBy(F.col(key_col).alias("k")).agg(mass)
    w = Window.orderBy(F.col("x"), F.col("k"))
    ranked = counts.withColumn("i", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("x").cast("long").alias("total_rows"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("x"))
            / (F.count(F.lit(1)) * F.sum("x")).cast("double")
            - (F.count(F.lit(1)) + F.lit(1))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("gini"),
    )


def barrier_col(df: DataFrame, name: str, expr) -> DataFrame:
    """Materialize a non-cheap expression as a REAL column behind a
    one-element ``explode(array(expr))`` Generate node.

    Why this exists: CollapseProject merges adjacent projections and
    inlines the producing expression into every reference — including
    references inside higher-order-function lambdas, where the inlined
    expression then re-evaluates PER ARRAY ELEMENT. A window-min pass
    that slices a computed hash array recomputed the entire md5 gram
    array once per window position (measured 64× on winnowing at 100k
    docs: 557 s → 8.7 s); bigram pair extraction over a computed token
    array paid 3.4× the same way. Generators are collapse-proof, and a
    single-element explode emits exactly one row per input row (an
    expression evaluating to NULL becomes [NULL] → one row), so the
    stage stays map-only with no semantics change.

    Use it whenever a computed array/struct column is consumed by
    per-element lambdas downstream; plain single-use references don't
    need it."""
    return df.select("*", F.explode(F.array(expr)).alias(name))


def quantize_minmax(col, lo: float, hi: float, bits: int = 16):
    """Clamp-and-quantize a numeric column onto the [0, 2^bits) integer
    grid — the per-dimension preprocessing for :func:`zorder_key`. lo/hi
    are caller-frozen bounds (profile them once; data outside clamps), so
    the mapping is stable across snapshots and engines."""
    span = float(hi) - float(lo)
    if span <= 0:
        raise ValueError("hi must exceed lo")
    top = (1 << bits) - 1
    scaled = F.floor(
        (F.col(col).cast("double") - F.lit(float(lo)))
        / F.lit(span)
        * F.lit(float(top + 1))
    ).cast("long")
    return F.least(F.greatest(scaled, F.lit(0)), F.lit(top))


def zorder_key(cols: Sequence, bits: int = 16):
    """Morton / Z-order key: interleave the low ``bits`` bits of k
    already-quantized integer columns into one sort key — the
    multi-dimensional clustering layout (Delta/Iceberg's OPTIMIZE ZORDER)
    that makes range predicates on ANY of the dimensions prune files:
    rows close in z-key are close in every dimension, so per-file min/max
    stats stay tight on all of them at once, where a lexicographic sort
    only prunes its leading column.

    Pure integer Catalyst arithmetic (shift/mask/or — replays identically
    in the DuckDB oracle); bit i of column j lands at position
    i*k + j. Write with ``df.repartitionByRange(n, zkey).sortWithinPartitions(zkey)``
    to get the clustered layout on disk."""
    k = len(cols)
    if k < 2:
        raise ValueError("zorder needs >= 2 columns")
    if bits * k > 62:
        raise ValueError("bits * n_cols must fit in a signed 64-bit key")
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            cc = c if not isinstance(c, str) else F.col(c)
            bit = F.shiftright(cc.cast("long"), i).bitwiseAND(F.lit(1))
            key = key + (bit * F.lit(1 << (i * k + j)))
    return key


def hilbert_key(xcol, ycol, bits: int = 8):
    """Hilbert-curve key for two already-quantized integer columns — the
    locality-preserving layout twin of :func:`zorder_key` (what Delta's
    liquid clustering uses instead of Morton): consecutive key values are
    ALWAYS grid neighbors (unit Manhattan step, no Z-shaped jumps), so
    per-file min/max spans stay tighter than Z-order for the same file
    count.

    Unrolled per-level state machine (the classic xy2d walk: quadrant
    digit d += s²·((3·rx) XOR ry), then mask + reflect + swap), expressed
    as ``bits`` chained pure-Catalyst CASE/bit expressions with NO UDF;
    the DuckDB oracle replays the identical levels as chained CTEs. A
    pure-Python replica in tests pins the bijection and the unit-step
    adjacency property independently of both engines."""
    if bits < 1 or 2 * bits > 62:
        raise ValueError("bits must be in [1, 31]")
    x = (F.col(xcol) if isinstance(xcol, str) else xcol).cast("long")
    y = (F.col(ycol) if isinstance(ycol, str) else ycol).cast("long")
    d = F.lit(0).cast("long")
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx_set = x.bitwiseAND(F.lit(s)) > 0
        ry_set = y.bitwiseAND(F.lit(s)) > 0
        digit = (
            F.when(rx_set & ry_set, 2)
            .when(rx_set, 3)
            .when(ry_set, 1)
            .otherwise(0)
        )
        d = d + F.lit(s * s) * digit
        xm = x.bitwiseAND(F.lit(s - 1))
        ym = y.bitwiseAND(F.lit(s - 1))
        nx = (
            F.when(ry_set, xm)
            .when(rx_set, F.lit(s - 1) - ym)
            .otherwise(ym)
        )
        ny = (
            F.when(ry_set, ym)
            .when(rx_set, F.lit(s - 1) - xm)
            .otherwise(xm)
        )
        x, y = nx, ny
    return d


def with_hilbert_key(
    df: DataFrame, xcol, ycol, bits: int = 8, name: str = "hkey"
) -> DataFrame:
    """:func:`hilbert_key` as a DataFrame pass that MATERIALIZES the
    (x, y, d) walk state once per level behind a one-element
    ``explode(array(struct(...)))`` barrier — the collapse-proof helper's
    pattern. The naive single-Column form chains each level's CASE into
    the previous level's full expression, so the tree grows ~4× per
    level; at 6+ bits whole-stage codegen fails to compile it and the
    scan falls back to interpreted eval (observed 24 s vs ~2 s on the
    layout-bucket probe). With per-level real columns every stage is a
    shallow map-only projection inside codegen. Use this for any bits;
    the Column form stays for embedding into other expressions at <= 4
    bits."""
    if bits < 1 or 2 * bits > 62:
        raise ValueError("bits must be in [1, 31]")
    x = (F.col(xcol) if isinstance(xcol, str) else xcol).cast("long")
    y = (F.col(ycol) if isinstance(ycol, str) else ycol).cast("long")
    cur = df.select(
        "*",
        x.alias("_hx"),
        y.alias("_hy"),
        F.lit(0).cast("long").alias("_hd"),
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        hx, hy, hd = F.col("_hx"), F.col("_hy"), F.col("_hd")
        rx_set = hx.bitwiseAND(F.lit(s)) > 0
        ry_set = hy.bitwiseAND(F.lit(s)) > 0
        digit = (
            F.when(rx_set & ry_set, 2)
            .when(rx_set, 3)
            .when(ry_set, 1)
            .otherwise(0)
        )
        xm = hx.bitwiseAND(F.lit(s - 1))
        ym = hy.bitwiseAND(F.lit(s - 1))
        nx = F.when(ry_set, xm).when(rx_set, F.lit(s - 1) - ym).otherwise(ym)
        ny = F.when(ry_set, ym).when(rx_set, F.lit(s - 1) - xm).otherwise(xm)
        cur = (
            cur.select(
                "*",
                F.explode(
                    F.array(
                        F.struct(
                            nx.alias("x"),
                            ny.alias("y"),
                            (hd + F.lit(s * s) * digit).alias("d"),
                        )
                    )
                ).alias("_hs"),
            )
            .drop("_hx", "_hy", "_hd")
            .withColumns(
                {
                    "_hx": F.col("_hs.x"),
                    "_hy": F.col("_hs.y"),
                    "_hd": F.col("_hs.d"),
                }
            )
            .drop("_hs")
        )
    return (
        cur.drop("_hx", "_hy")
        .withColumnRenamed("_hd", name)
    )


def compaction_bins(
    files: DataFrame,
    size_col: str,
    order_cols: Sequence[str],
    target_size: int,
) -> DataFrame:
    """Small-file compaction plan: assign an ordered file inventory to
    sequential bins of ~``target_size`` bytes by cumulative-size split —
    the OPTIMIZE/compact planning step every table format needs at scale
    (a 100 TB table leaking 100 KB files burns its scan throughput on
    open() calls). Files are packed in ``order_cols`` order (sort by
    your layout key — e.g. the Z-order key from ``zorder_key`` — so
    compacted files keep locality and min/max pruning stays tight);
    bin = floor(cumulative_bytes_before / target), the streaming one-pass
    rule (bins may overshoot by at most one file; a single file larger
    than the target gets its own bin).

    Returns one row per bin: (bin, n_files, total_bytes, avg_bytes) plus
    first/last of the leading order column for plan inspection.

    Scale shape: the inventory is METADATA grain (one row per file —
    millions of rows for a pathological table, not billions), so the
    single global ordering window is the honest cost; the plan is then
    a broadcast-sized dimension the rewrite job joins on."""
    if target_size < 1:
        raise ValueError("target_size must be >= 1")
    from pyspark.sql.window import Window

    w = Window.orderBy(*[F.col(c) for c in order_cols])
    cum_before = F.coalesce(
        F.sum(F.col(size_col)).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    lead = F.col(order_cols[0])
    binned = files.withColumn(
        "bin", F.floor(cum_before / F.lit(int(target_size))).cast("long")
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(F.col(size_col)).cast("long").alias("total_bytes"),
            F.round(F.avg(F.col(size_col)), 2).alias("avg_bytes"),
            F.min(lead).alias("first_key"),
            F.max(lead).alias("last_key"),
        )
        .orderBy("bin")
    )


def inequality_profile(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Within-group inequality profile of a non-negative size measure —
    the three standard indices a mixing pipeline reads TOGETHER because
    they weight the distribution differently (gini_concentration covers
    the across-group view):

        CV      = σ/μ                      (top-sensitive, 2nd moment)
        Theil T = (1/n) Σ (x/μ)·ln(x/μ)    (decomposable entropy index)
        Atkinson(ε=½) = 1 − ((1/n) Σ √x)² / μ   (bottom-sensitive)

    Zero values contribute 0 to the Theil sum (x·ln x → 0 limit) and 0
    to Σ√x — the standard conventions, applied identically in the
    oracle. Determinism: Σx and Σx² are exact integer sums (the measure
    is integral); the per-row Theil terms quantize to integer NANOS and
    the √x terms to integer MICROS before summation, so both
    cross-engine sums are order-independent and the 1-ulp ln()/sqrt()
    caveat is absorbed by the rounding (repo convention).

    Returns (group, n, mean, cv, theil_t, atkinson_05), 6dp; singleton
    and all-equal groups report 0 for all three indices.

    Scale shape: one map-side-combined aggregate to the group grain for
    (Σx, n), a broadcast join back (group dim is small by construction),
    one second map-combined aggregate. Two passes over the measure — the
    Theil term needs μ — and nothing else."""
    base = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("long").alias("x"),
    ).where(F.col("x").isNotNull() & (F.col("x") >= 0))
    totals = base.groupBy("g").agg(
        F.sum("x").alias("sx"), F.count(F.lit(1)).cast("long").alias("n")
    )
    j = base.join(F.broadcast(totals), on="g")
    ratio = F.col("x") * F.col("n") / F.col("sx").cast("double")
    t_theil = F.when(
        (F.col("x") > 0) & (F.col("sx") > 0),
        F.round(ratio * F.log(ratio) * F.lit(1e9), 0).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    t_sqrt = F.round(
        F.sqrt(F.col("x").cast("double")) * F.lit(1e6), 0
    ).cast("long")
    agg = j.groupBy("g").agg(
        F.max("n").alias("n"),
        F.max("sx").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(t_theil).alias("s_theil"),
        F.sum(t_sqrt).alias("s_sqrt"),
    )
    mu = F.col("sx") / F.col("n").cast("double")
    var = F.col("sxx") / F.col("n") - mu * mu
    cv = F.when(
        (F.col("sx") > 0) & (var > 0), F.sqrt(var) / mu
    ).otherwise(F.lit(0.0))
    theil = F.col("s_theil") / F.lit(1e9) / F.col("n")
    atk = F.when(
        F.col("sx") > 0,
        F.lit(1.0)
        - F.pow(F.col("s_sqrt") / F.lit(1e6) / F.col("n"), 2) / mu,
    ).otherwise(F.lit(0.0))
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").alias("n"),
        F.round(mu, 6).alias("mean"),
        F.round(cv, 6).alias("cv"),
        F.round(theil, 6).alias("theil_t"),
        F.round(atk, 6).alias("atkinson_05"),
    ).orderBy(group_col)


def rendezvous_shard_plan(
    df: DataFrame,
    key_col: str,
    n_shards: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment audit
    (Thaler & Ravishankar 1998 — the consistent-placement scheme behind
    cache rings and shard routers): each key goes to the shard with the
    maximum md5-derived weight h(key, shard), so adding one shard moves
    ONLY the keys whose new shard wins — an expected 1/(n+1) of them —
    while modulo sharding reshuffles almost everything. The layout
    planner's placement rung next to compaction_bin_plan (sizing) and
    zorder/hilbert (ordering).

    Emits the per-shard audit for n and n+1 shards in one pass:
    (shard, n_keys, share, n_keys_plus1, moved_in) where moved_in
    counts keys assigned to this shard under n+1 that lived elsewhere
    under n (shard n+1's row collects the classic 1/(n+1) inflow; an
    existing shard's moved_in is 0 — rendezvous never moves a key
    between surviving shards, the property the test pins).

    Determinism: weights are the md5_hash60 family (identical both
    engines); argmax by (weight, shard) total order. Scale shape:
    map-only weight expressions (n+1 md5s per key — shard count is a
    config constant), one shard-grain aggregate; keys never shuffle
    except for that count. The assigned frame persists once and the
    four consumers (count + three shard-grain aggregates) read the
    cache — without it the scan plus 2(n+1) md5s per key re-ran per
    action (r11 verdict item 4); the tiny (n+1)-row output is
    eager-checkpointed before the release, per the repo convention
    (trained_ivf_pq_topk)."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    from ningaloo_turtle_etl_spark.operators.dedup import md5_hash60

    key = F.col(key_col).cast("string")

    def shard_of(n: int):
        pairs = [
            F.struct(
                md5_hash60(
                    F.concat_ws("#", key, F.lit(f"shard={s}#seed={seed}"))
                ).alias("w"),
                F.lit(s).alias("s"),
            )
            for s in range(n)
        ]
        return F.greatest(*pairs)["s"] if n > 1 else F.lit(0)

    assigned = df.select(
        shard_of(int(n_shards)).alias("s_n"),
        shard_of(int(n_shards) + 1).alias("s_n1"),
    ).persist()
    try:
        tot = assigned.count()  # materializes the cache for the aggregates
        agg_n = assigned.groupBy(F.col("s_n").alias("shard")).agg(
            F.count(F.lit(1)).cast("long").alias("n_keys")
        )
        agg_n1 = assigned.groupBy(F.col("s_n1").alias("shard")).agg(
            F.count(F.lit(1)).cast("long").alias("n_keys_plus1")
        )
        moved = (
            assigned.where(F.col("s_n") != F.col("s_n1"))
            .groupBy(F.col("s_n1").alias("shard"))
            .agg(F.count(F.lit(1)).cast("long").alias("moved_in"))
        )
        return (
            agg_n.join(agg_n1, on="shard", how="full")
            .join(moved, on="shard", how="left")
            .select(
                "shard",
                F.coalesce("n_keys", F.lit(0)).cast("long").alias("n_keys"),
                F.round(
                    F.coalesce("n_keys", F.lit(0)) / F.lit(float(tot)), 6
                ).alias("share"),
                F.coalesce("n_keys_plus1", F.lit(0))
                .cast("long")
                .alias("n_keys_plus1"),
                F.coalesce("moved_in", F.lit(0))
                .cast("long")
                .alias("moved_in"),
            )
            .orderBy("shard")
            .localCheckpoint(eager=True)
        )
    finally:
        assigned.unpersist()


def zonemap_prune_audit(
    df: DataFrame,
    zone_col: str,
    order_exprs: dict,
    lo,
    hi,
    n_files: int = 32,
) -> DataFrame:
    """Zone-map (min/max) pruning audit across candidate file layouts —
    the missing WHY next to the layout planners (zorder/hilbert order,
    compaction_bin_plan sizes, rendezvous placement): given the same
    rows laid out N ways, how many of the resulting files could a
    reader SKIP for a range predicate on ``zone_col``?

    Each layout in ``order_exprs`` (name → list of ordering Columns)
    simulates writing the table in that order into ``n_files`` equal
    files via ntile; per file the zone is (min, max) of ``zone_col``;
    a file is hit when its zone overlaps [lo, hi). Emits per layout:
    files hit/pruned, prune fraction, rows scanned in hit files, and
    the (layout-invariant) matching row count as the sanity column.

    Determinism: every ordering must be a TOTAL order (pass tiebreak
    columns) so ntile assigns identically in both engines.

    NULL contract (r11 ADVICE): a file whose zone stats are NULL (every
    ``zone_col`` value in it is NULL) counts as PRUNED — the range
    predicate is null-rejecting, which is exactly the null-count
    metadata rule real readers apply; and ``rows_scanned`` is 0, never
    NULL, when a layout prunes every file.

    Scale shape: the ntile sort is the SIMULATION of a layout, not a
    production step — real zone maps come from file metadata, and the
    audit then runs on the (file × layout) grain only. Per layout:
    one sort, one file-grain aggregate, one layout-grain reduce."""
    outs = []
    for name, cols in order_exprs.items():
        w = Window.orderBy(*cols)
        files = (
            df.select(
                F.col(zone_col).alias("z"),
                F.ntile(n_files).over(w).alias("f"),
            )
            .groupBy("f")
            .agg(
                F.min("z").alias("zmin"),
                F.max("z").alias("zmax"),
                F.count(F.lit(1)).cast("long").alias("rows"),
            )
        )
        # NULL zone stats (all-NULL file) => hit is NULL => coalesce to
        # pruned: the range predicate is null-rejecting, so skipping the
        # file is safe — and explicit, instead of "neither hit nor pruned".
        hit = F.coalesce(
            (F.col("zmax") >= F.lit(lo)) & (F.col("zmin") < F.lit(hi)),
            F.lit(False),
        )
        outs.append(
            files.agg(
                F.lit(name).alias("layout"),
                F.count(F.lit(1)).cast("long").alias("n_files"),
                F.sum(hit.cast("long")).cast("long").alias("files_hit"),
                F.sum((~hit).cast("long")).cast("long").alias(
                    "files_pruned"
                ),
                F.coalesce(F.sum(F.when(hit, F.col("rows"))), F.lit(0))
                .cast("long")
                .alias("rows_scanned"),
            )
        )
    matching = df.agg(
        F.sum(
            (
                (F.col(zone_col) >= F.lit(lo))
                & (F.col(zone_col) < F.lit(hi))
            ).cast("long")
        )
        .cast("long")
        .alias("rows_matching")
    )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return (
        out.crossJoin(F.broadcast(matching))
        .select(
            "layout",
            "n_files",
            "files_hit",
            "files_pruned",
            F.round(
                F.col("files_pruned").cast("double")
                / F.col("n_files").cast("double"),
                6,
            ).alias("prune_frac"),
            "rows_scanned",
            "rows_matching",
        )
        .orderBy("layout")
    )
