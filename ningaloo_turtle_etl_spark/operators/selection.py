"""Data-selection operators for training-data pipelines: exact-allocation
stratified sampling, corpus drift metrics, and DSIR-style hashed n-gram
importance weighting.

The reference has no selection layer (its sampling is "keep everything",
≤200k rows — e.g. the full-table extractions at tagging-etl.Rmd:64-66); this
module extends the engine per the build brief's training-data-pipeline
surface. Published-method citations:

- Exact stratified allocation: classic largest-remainder (Hamilton)
  apportionment over strata.
- DSIR: Xie et al., "Data Selection for Language Models via Importance
  Resampling" (NeurIPS 2023) — hashed n-gram bucket features, importance
  weight = target/raw bucket-probability ratio.
- Drift: smoothed unigram KL / Jensen-Shannon / total-variation between two
  corpus snapshots (the monitoring standard for crawl-over-crawl drift).

Scale notes (100 TB):

- Everything is built from deterministic md5-derived hashes so results are
  stable under task retries, re-runs, AND reproducible in the DuckDB oracle
  (unlike xxhash64, which DuckDB lacks). No RNG state
  anywhere.
- The stratified sampler's only per-row shuffle is the per-stratum
  row_number window. With few strata that shuffle is skewed by design;
  ``prefilter_margin`` applies a map-side hash-rate gate FIRST (same hash,
  same ordering), so only ~margin×quota rows per stratum reach the window
  instead of the whole corpus.
- DSIR's corpus pass is explode → broadcast-join a ≤n_buckets-row ratio dim
  → per-doc partial-agg sum: the only row-keyed shuffle carries (doc_id,
  partial sums), never text. Selection is a TakeOrderedAndProject, not a
  global sort.
- Drift aggregates by token: two shuffles of vocabulary-sized frames (the
  corpus scans collapse map-side via partial aggregation).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

from ningaloo_turtle_etl_spark.operators.curation import (
    _rate_threshold,
    _sample_hash,
    word_ngrams_from_tokens,
)
from ningaloo_turtle_etl_spark.operators.text import tokens

# --- exact-allocation stratified sampling -----------------------------------


def stratum_quotas(
    docs: DataFrame, total_n: int, stratum_col: str = "source"
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of ``total_n`` sample
    slots across strata, proportional to stratum row counts: every stratum
    gets floor(n·w/W); leftover slots go to the largest fractional parts
    (ties by stratum name). Quotas are capped at the stratum size and sum to
    exactly ``total_n`` whenever total_n ≤ corpus size.

    One tiny aggregation (stratum → count) then single-partition window
    arithmetic over the strata dim — strata are few by construction, so the
    no-partition window is a deliberate non-hazard (documented here so the
    WindowExec warning isn't mistaken for a scale bug)."""
    per = docs.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("w"))
    tot = per.agg(F.sum("w").alias("tw"))
    exact = F.lit(int(total_n)) * F.col("w").cast("double") / F.col("tw").cast("double")
    alloc = per.crossJoin(F.broadcast(tot)).select(
        stratum_col,
        "w",
        F.floor(exact).cast("long").alias("base"),
        (exact - F.floor(exact)).alias("frac"),
    )
    w_all = Window.partitionBy(F.lit(1))
    w_rank = Window.partitionBy(F.lit(1)).orderBy(F.desc("frac"), F.col(stratum_col))
    leftover = F.lit(int(total_n)) - F.sum("base").over(w_all)
    return alloc.select(
        stratum_col,
        "w",
        F.least(
            F.col("w"),
            F.col("base")
            + F.when(F.row_number().over(w_rank) <= leftover, F.lit(1)).otherwise(
                F.lit(0)
            ),
        ).alias("quota"),
    )


def stratified_sample_exact(
    docs: DataFrame,
    total_n: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    prefilter_margin: float | None = None,
) -> DataFrame:
    """EXACT-size stratified sample: precisely ``quota_s`` rows from each
    stratum (largest-remainder proportional allocation), chosen as the
    quota_s smallest md5-of-id hashes — deterministic, no RNG, stable under
    retries. Complements the rate-based Bernoulli sampler
    (``deterministic_stratified_sample``), whose output size is only
    expected, not exact — exactness is what a fixed training-token budget
    needs.

    ``prefilter_margin`` (e.g. 2.0) turns on the scale path: a map-side
    hash-rate gate at rate margin·quota/w runs before the per-stratum
    window, so the skewed stratum shuffle carries ~margin·quota rows, not
    the corpus. Because the gate keeps exactly the rows with the SMALLEST
    hashes (same hash, same ascending order the window ranks by), any
    margin that passes ≥ quota rows yields the identical sample. The gate
    is SELF-REPAIRING (ADVICE r03 — it used to under-sample silently):
    strata where the gate passed fewer than quota rows are detected from a
    tiny survivor-count aggregate inside the plan and re-sampled through an
    ungated branch, so the output is exact for ANY margin. The gated frame
    (~margin·total_n rows — sample-sized, not corpus-sized) is persisted
    via the shared cache tracker so the survivor count and both output
    branches reuse ONE corpus scan instead of re-scanning per branch;
    release with ``operators.cache.release_tracked_caches()`` (or a
    ``tracked_cache_scope()``) after consuming, as with the dedup
    operators. The rescue branch adds a second map-only corpus scan whose
    window shuffles only the short strata's rows — empty in the common
    case; margins ≥2 make a rescue vanishingly rare for quotas ≥ ~50
    (binomial lower tail).

    Output: the sampled rows plus ``sample_rank`` (1-based rank within the
    stratum by hash order)."""
    quotas = stratum_quotas(docs, total_n, stratum_col)
    joined = docs.join(
        F.broadcast(quotas.select(stratum_col, "w", "quota")),
        on=stratum_col,
        how="inner",
    )
    if prefilter_margin is not None:
        rate = F.least(
            F.lit(1.0),
            F.lit(float(prefilter_margin))
            * F.col("quota").cast("double")
            / F.col("w").cast("double"),
        )
        from pyspark import StorageLevel

        from ningaloo_turtle_etl_spark.operators.cache import track_cache

        gated = track_cache(
            joined.filter(
                (rate >= 1.0) | (_sample_hash(id_col) < _rate_threshold(rate))
            ).persist(StorageLevel.MEMORY_AND_DISK)
        )
        # Shortfall repair: strata-sized survivor counts vs quotas (strata
        # are few — this aggregate and the join below are broadcast-tiny).
        survivors = gated.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_surv"))
        short = (
            quotas.join(survivors, on=stratum_col, how="left")
            .filter(F.coalesce(F.col("_surv"), F.lit(0)) < F.col("quota"))
            .select(stratum_col)
        )
        ok = gated.join(F.broadcast(short), on=stratum_col, how="left_anti")
        rescue = joined.join(F.broadcast(short), on=stratum_col, how="left_semi")
        joined = ok.unionByName(rescue)
    w = Window.partitionBy(stratum_col).orderBy(_sample_hash(id_col), F.col(id_col))
    return (
        joined.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= F.col("quota"))
        .drop("w", "quota")
    )


# --- weighted sampling without replacement ----------------------------------


def weighted_sample_topn(
    docs: DataFrame,
    n: int,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    ln_decimals: int = 12,
) -> DataFrame:
    """Weight-proportional sample WITHOUT replacement, deterministically:
    Efraimidis & Spirakis (2006, "Weighted random sampling with a
    reservoir", A-Res): each row gets key u^(1/w) with u uniform in (0,1),
    and the n largest keys form an exact weighted sample. Here u is the
    md5-of-id uniform ((h32+1)/(2^32+1), never 0 so log is safe), so the
    draw has no RNG state — stable under retries/re-runs and bit-reproducible
    in the DuckDB oracle.

    Ranking uses the LOG key ln(u)/w — the monotone transform of u^(1/w),
    so the selected set is identical — because the raw key compresses
    toward 1.0 as w grows (key ≈ 1 − |ln u|/w): rounded at fixed decimals,
    keys of heavy rows (w ≳ 1e8) mass-tie and selection degenerates to
    id order (ADVICE r03). The log key keeps heavy rows spread across its
    full dynamic range for ANY weight scale. Cross-engine determinism:
    ln(u) is rounded to ``ln_decimals`` BEFORE the division (|ln u| ≤ 22.3
    here, so 12 decimals is far coarser than a last-ulp libm difference,
    yet finer than the 2.3e-10 minimum gap between distinct u's — no new
    ties), and the division itself is IEEE-exact on identical operands in
    both engines; remaining ties break by id. The top-n is a
    TakeOrderedAndProject: map-only scan + per-partition heaps, no global
    sort. Rows with weight <= 0 are excluded (their key is undefined)."""
    h32 = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    u = (h32 + F.lit(1.0)) / F.lit(4294967297.0)
    w = F.col(weight_col).cast("double")
    key = F.round(F.log(u), ln_decimals) / w
    return (
        docs.filter(w > 0)
        .withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.col(id_col))
        .limit(int(n))
    )


# --- corpus drift metrics ---------------------------------------------------


def token_distribution(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram counts over lowercased whitespace tokens: (token, n). The
    corpus scan collapses map-side (partial agg) before the vocab-sized
    shuffle."""
    return (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def drift_from_counts(
    joined: DataFrame,
    keys: tuple[str, ...] = (),
    smoothing: float = 0.5,
) -> DataFrame:
    """Drift metrics from an already-joined count frame ``(keys..., na,
    nb)`` — one output row per key group (one row total when ``keys`` is
    empty). Shared by the batch snapshot comparison and the streaming
    per-window monitor so both compute the identical formula: add-λ
    smoothing over each group's union vocabulary, KL both ways, JS, TV."""
    lam = float(smoothing)
    tot = joined.groupBy(*keys).agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb"), F.count(F.lit(1)).alias("v")
    )
    e = (
        joined.join(F.broadcast(tot), on=list(keys))
        if keys
        else joined.crossJoin(F.broadcast(tot))
    )
    pa = (F.col("na") + F.lit(lam)) / (F.col("ta") + F.lit(lam) * F.col("v"))
    pb = (F.col("nb") + F.lit(lam)) / (F.col("tb") + F.lit(lam) * F.col("v"))
    m = (pa + pb) / F.lit(2.0)
    return e.groupBy(*keys).agg(
        F.max("ta").alias("n_tokens_a"),
        F.max("tb").alias("n_tokens_b"),
        F.max("v").alias("vocab_size"),
        F.round(F.sum(pa * F.log(pa / pb)), 6).alias("kl_ab"),
        F.round(F.sum(pb * F.log(pb / pa)), 6).alias("kl_ba"),
        F.round(
            F.sum(pa * F.log(pa / m)) / 2 + F.sum(pb * F.log(pb / m)) / 2, 6
        ).alias("js_divergence"),
        F.round(F.sum(F.abs(pa - pb)) / 2, 6).alias("total_variation"),
    )


def corpus_drift_metrics(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    smoothing: float = 0.5,
) -> DataFrame:
    """Distribution drift between two corpus snapshots, as one row:
    smoothed unigram KL(a‖b), KL(b‖a), Jensen-Shannon divergence, and total
    variation distance, plus token/vocab totals. Add-λ smoothing over the
    union vocabulary keeps every term finite (no zero-probability logs).

    Plan shape: two token aggregations → one full outer join on token
    (co-partitioned) → a scalar aggregate. The frames past the first agg are
    vocabulary-sized, so at 100 TB the cost is the two corpus scans."""
    ca = token_distribution(a, text_col).withColumnRenamed("n", "na")
    cb = token_distribution(b, text_col).withColumnRenamed("n", "nb")
    j = ca.join(cb, on="token", how="full_outer").select(
        F.coalesce(F.col("na"), F.lit(0)).alias("na"),
        F.coalesce(F.col("nb"), F.lit(0)).alias("nb"),
    )
    return drift_from_counts(j, (), smoothing)


# --- DSIR importance weighting ----------------------------------------------


def hashed_gram_bucket(gram: Column, n_buckets: int) -> Column:
    """Hash a gram into [0, n_buckets): first 32 bits of md5, mod buckets.
    md5-based so the bucketing is bit-identical in the DuckDB oracle
    (``CAST('0x'||substr(md5(g),1,8) AS BIGINT) % B``)."""
    return F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long") % F.lit(
        int(n_buckets)
    )


def _bucket_counts(
    df: DataFrame, ngram_n: int, n_buckets: int, text_col: str
) -> DataFrame:
    toks = df.select(tokens(F.lower(F.col(text_col))).alias("_toks"))
    grams = toks.select(
        F.explode(word_ngrams_from_tokens(F.col("_toks"), ngram_n)).alias("gram")
    )
    return (
        grams.select(hashed_gram_bucket(F.col("gram"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def doc_bucket_counts(
    df: DataFrame,
    ngram_n: int = 2,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document hashed-gram bucket counts (id, bucket, n) — the shared
    intermediate both DSIR stages need. Computing it once and persisting
    (see ``dsir_top_select``) halves the corpus explode+hash work: the raw
    bucket distribution is a re-aggregation of this frame, and scoring joins
    it directly. Its size is Σ_doc distinct-buckets ≤ docs × n_buckets —
    far smaller than the gram stream."""
    toks = df.select(F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_toks"))
    grams = toks.select(
        F.col(id_col),
        F.explode(word_ngrams_from_tokens(F.col("_toks"), ngram_n)).alias("gram"),
    )
    return (
        grams.select(
            F.col(id_col), hashed_gram_bucket(F.col("gram"), n_buckets).alias("bucket")
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dsir_bucket_log_ratios(
    target: DataFrame,
    raw: DataFrame,
    ngram_n: int = 2,
    n_buckets: int = 1024,
    smoothing: float = 1.0,
    text_col: str = "text",
    raw_bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-bucket importance log-ratio log p_target(b) − log p_raw(b) over
    hashed word-``ngram_n``-gram buckets, add-λ smoothed over all
    ``n_buckets`` buckets (so buckets unseen in either side stay finite).
    The result is a ≤n_buckets-row dimension — broadcast it.

    Pass ``raw_bucket_counts`` (a ``doc_bucket_counts`` frame of ``raw``,
    ideally persisted) to reuse the scoring stage's explode instead of
    re-hashing the corpus."""
    lam = float(smoothing)
    bt = _bucket_counts(target, ngram_n, n_buckets, text_col).withColumnRenamed(
        "n", "nt"
    )
    if raw_bucket_counts is not None:
        br = raw_bucket_counts.groupBy("bucket").agg(F.sum("n").alias("nr"))
    else:
        br = _bucket_counts(raw, ngram_n, n_buckets, text_col).withColumnRenamed(
            "n", "nr"
        )
    j = bt.join(br, on="bucket", how="full_outer").select(
        "bucket",
        F.coalesce(F.col("nt"), F.lit(0)).alias("nt"),
        F.coalesce(F.col("nr"), F.lit(0)).alias("nr"),
    )
    tot = j.agg(F.sum("nt").alias("tt"), F.sum("nr").alias("tr"))
    b = F.lit(lam * n_buckets)
    return j.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("nt") + F.lit(lam)) / (F.col("tt") + b))
            - F.log((F.col("nr") + F.lit(lam)) / (F.col("tr") + b))
        ).alias("log_ratio"),
    )


def dsir_scores(
    pool: DataFrame,
    log_ratios: DataFrame,
    ngram_n: int = 2,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    doc_bucket_counts_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document DSIR importance log-weight: Σ over the doc's hashed
    n-gram features (bag, duplicates counted) of the bucket log-ratio.
    Docs too short to have any n-gram score 0 with n_grams=0.

    Without ``doc_bucket_counts_df``, scoring is gram-level: explode →
    broadcast-join ratios → groupBy(id) with map-side partial agg — one
    doc-width shuffle, no intermediate materialization (fastest when the
    corpus scan is cheap). With a persisted ``doc_bucket_counts`` frame the
    join runs on (id, bucket, n) instead, sharing ONE corpus explode with
    the ratio stage — that adds the (id, bucket) aggregation shuffle, the
    right trade when corpus scans dominate (the 100 TB regime; measured
    locally at 50k docs the two-scan form is ~25% faster because the scan
    is page-cached)."""
    if doc_bucket_counts_df is not None:
        scored = (
            doc_bucket_counts_df.join(
                F.broadcast(log_ratios), on="bucket", how="inner"
            )
            .groupBy(id_col)
            .agg(
                F.sum("n").alias("n_grams"),
                F.sum(F.col("n") * F.col("log_ratio")).alias("log_weight"),
            )
        )
    else:
        toks = pool.select(
            F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_toks")
        )
        grams = toks.select(
            F.col(id_col),
            F.explode(word_ngrams_from_tokens(F.col("_toks"), ngram_n)).alias("gram"),
        )
        scored = (
            grams.select(
                F.col(id_col),
                hashed_gram_bucket(F.col("gram"), n_buckets).alias("bucket"),
            )
            .join(F.broadcast(log_ratios), on="bucket", how="inner")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum("log_ratio").alias("log_weight"),
            )
        )
    return (
        pool.select(id_col)
        .join(scored, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("log_weight"), F.lit(0.0)).alias("log_weight"),
        )
    )


def dsir_top_select(
    pool: DataFrame,
    target: DataFrame,
    n_select: int,
    ngram_n: int = 2,
    n_buckets: int = 1024,
    smoothing: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    share_scan: bool = True,
) -> DataFrame:
    """DSIR-style selection: weight the candidate ``pool`` by hashed-n-gram
    importance toward ``target``'s distribution (raw distribution = the
    pool itself), take the top ``n_select`` by log-weight. Deterministic
    rank: rounded log-weight desc, then id — the rounding (6 dp) makes the
    rank reproducible across engines/summation orders, and the top-n is a
    TakeOrderedAndProject (no global sort).

    ``share_scan=True`` (default) computes the pool's per-doc bucket counts
    ONCE, persists them, and shares the frame between the raw-distribution
    aggregate and the scoring join — the corpus is exploded and hashed a
    single time (two scans → one; the right default when the corpus scan
    dominates). The persist is registered with the shared operator-cache
    tracker: release it after consuming the result
    (``operators.cache.release_tracked_caches`` / ``tracked_cache_scope``).
    ``share_scan=False`` skips the materialization and scans twice —
    faster when the input is small or page-cached (see ``dsir_scores``)."""
    db = None
    if share_scan:
        from ningaloo_turtle_etl_spark.operators.cache import track_cache

        db = track_cache(
            doc_bucket_counts(pool, ngram_n, n_buckets, id_col, text_col).persist()
        )
    ratios = dsir_bucket_log_ratios(
        target, pool, ngram_n, n_buckets, smoothing, text_col, raw_bucket_counts=db
    )
    scores = dsir_scores(
        pool, ratios, ngram_n, n_buckets, id_col, text_col, doc_bucket_counts_df=db
    )
    ranked = scores.select(
        id_col,
        "n_grams",
        F.round(F.col("log_weight"), 6).alias("log_weight"),
    )
    return ranked.orderBy(F.desc("log_weight"), F.col(id_col)).limit(int(n_select))


def contrastive_negatives(
    df: DataFrame,
    id_col: str,
    group_col: str,
    k: int = 4,
    pool_n: int = 64,
) -> DataFrame:
    """Deterministic cross-group negative sampling for contrastive
    training: every document gets ``k`` negatives drawn from a shared
    md5-ranked candidate pool of ``pool_n`` docs, restricted to OTHER
    groups (sources) so in-domain near-positives never serve as
    negatives. Pair order is md5(anchor#cand) — stable under retries,
    reruns, and bit-identical in the oracle (no RNG state, the repo-wide
    sampling convention).

    Output: (anchor_id, neg_id, rank 1..k); anchors whose eligible pool
    is shorter than k emit fewer rows (visible, not silent).

    Scale shape: the pool is a bounded driver collect (pool_n rows, the
    codebook-LUT pattern) embedded as an array literal, so assignment is
    MAP-ONLY — per row: filter pool, hash-key each candidate, array_sort,
    slice k, explode. No join, no window, no shuffle at any corpus size;
    cost is rows x pool_n hashes. Raise pool_n for harder negatives, not
    k."""
    if k < 1 or pool_n < 1:
        raise ValueError("k and pool_n must be >= 1")
    pool = (
        df.select(
            F.col(id_col).cast("string").alias("cand"),
            F.col(group_col).cast("string").alias("cgrp"),
        )
        .orderBy(F.md5(F.col("cand")), F.col("cand"))
        .limit(int(pool_n))
        .collect()
    )
    pool_arr = F.array(
        *[
            F.struct(
                F.lit(r["cand"]).alias("cand"),
                F.lit(r["cgrp"]).alias("cgrp"),
            )
            for r in pool
        ]
    )
    anchor = F.col(id_col).cast("string")
    eligible = F.filter(
        pool_arr, lambda c: c["cgrp"] != F.col(group_col).cast("string")
    )
    keyed = F.transform(
        eligible,
        lambda c: F.struct(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", anchor, c["cand"])), 1, 15
                ),
                16,
                10,
            )
            .cast("long")
            .alias("key"),
            c["cand"].alias("cand"),
        ),
    )
    top = F.slice(F.array_sort(keyed), 1, int(k))
    out = df.select(
        F.col(id_col).alias("anchor_id"), F.posexplode(top).alias("pos", "s")
    )
    return out.select(
        "anchor_id",
        F.col("s.cand").cast(dict(df.dtypes)[id_col]).alias("neg_id"),
        (F.col("pos") + 1).cast("long").alias("rank"),
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    val_frac: float = 0.1,
) -> DataFrame:
    """Leakage-safe train/validation split: documents are split by
    DUPLICATE GROUP (normalized-content fingerprint), never individually,
    so a duplicated document can never sit in train while its copy sits
    in validation — the eval-contamination failure mode a plain
    per-row split ships silently. Assignment hashes the group ANCHOR
    (min id per fingerprint) through the repo's md5 uniform, so the
    split is deterministic, retry-stable, and replays in SQL.

    Output: (id, anchor_id, group_size, split 'train'|'val').

    Scale shape: the fingerprint pass is map-only (same normalization as
    exact dedup); the (fingerprint → anchor, size) aggregate and the
    join-back both key on the fingerprint — the dedup_exact shuffle
    shape, bodies never move. Extend the fingerprint to a near-dup
    cluster id (operators/graph.connected_components over MinHash pairs)
    when paraphrase-level leakage matters; the split logic is
    unchanged."""
    if not 0 < val_frac < 1:
        raise ValueError("val_frac must be in (0, 1)")
    from ningaloo_turtle_etl_spark.operators.text import with_fingerprint

    fp = with_fingerprint(df.select(id_col, text_col), text_col).select(
        F.col(id_col).alias("id"), "fingerprint"
    )
    groups = fp.groupBy("fingerprint").agg(
        F.min("id").alias("anchor_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    u = (
        F.conv(_sample_hash("anchor_id"), 16, 10).cast("long")
        / F.lit(float(2**32))
    )
    assigned = groups.withColumn(
        "split",
        F.when(u < F.lit(float(val_frac)), F.lit("val")).otherwise(
            F.lit("train")
        ),
    )
    return fp.join(assigned, on="fingerprint").select(
        F.col("id").alias(id_col), "anchor_id", "group_size", "split"
    )


def kcenter_select(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-CENTER coreset selection over an embedding column
    (Gonzalez 1985 farthest-point traversal, the 2-approximation to the
    k-center objective) — the diversity-maximizing counterpart of the
    quality/importance selectors (DSIR, budget select): pick the point
    farthest from everything already picked, k times. The classic
    coreset recipe for "cover the embedding space with k exemplars"
    (dataset distillation seeds, eval-set diversification, k-means++-
    style initialization at corpus scale).

    Distributed shape (the kmeans round pattern): a persisted
    (id, vec, dmin) state frame; each round updates dmin =
    least(dmin, ‖x − c_new‖²) with the NEW center embedded as literals —
    one map pass, no join — then takes the argmax by TakeOrdered
    (dist DESC, id ASC tiebreak). k rounds = k scans; state carries one
    bigint next to the vector, lineage O(1) via localCheckpoint.

    Determinism: squared distances accumulate as exact integers — each
    per-coordinate term rounds ((x_j−c_j)²·1e6) to a long before the
    fold — so argmax order is integer order, replayed coordinate-for-
    coordinate by the unrolled DuckDB oracle. The first center is the
    minimum id (no RNG).

    Returns (pos, id, radius): pos = 1..k selection order, radius = the
    point's min squared distance to the earlier centers at selection
    time (6dp; NULL for pos 1) — radius is non-increasing and radius at
    pos k+1 would be the k-center coverage bound."""
    if k < 1:
        raise ValueError("k must be >= 1")
    base = corpus.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).localCheckpoint(eager=True)
    first = (
        base.orderBy(F.asc("id")).limit(1).collect()
    )
    if not first:
        return corpus.sparkSession.createDataFrame(
            [], "pos int, id long, radius double"
        )
    centers = [(int(first[0]["id"]), [float(x) for x in first[0]["v"]], None)]

    def _dist_to(c_coords):
        c_arr = F.array([F.lit(float(x)) for x in c_coords])
        terms = F.zip_with(
            F.col("v"),
            c_arr,
            lambda x, c: F.round((x - c) * (x - c) * F.lit(1e6), 0).cast(
                "long"
            ),
        )
        return F.aggregate(
            terms, F.lit(0).cast("long"), lambda acc, t: acc + t
        )

    state = base.select("id", "v", _dist_to(centers[0][1]).alias("dmin"))
    state = state.localCheckpoint(eager=True)
    for _ in range(1, int(k)):
        top = (
            state.orderBy(F.desc("dmin"), F.asc("id")).limit(1).collect()
        )
        if not top or int(top[0]["dmin"]) == 0:
            break  # fewer than k distinct points — coverage is exact
        cid = int(top[0]["id"])
        coords = [float(x) for x in top[0]["v"]]
        centers.append((cid, coords, int(top[0]["dmin"]) / 1e6))
        state = state.select(
            "id",
            "v",
            F.least(F.col("dmin"), _dist_to(coords)).alias("dmin"),
        ).localCheckpoint(eager=True)
    rows = [
        (i + 1, centers[i][0], centers[i][2]) for i in range(len(centers))
    ]
    return (
        corpus.sparkSession.createDataFrame(
            rows, "pos int, id long, radius double"
        )
        .select("pos", "id", F.round("radius", 6).alias("radius"))
        .orderBy("pos")
    )
