"""Corpus-curation operators for LLM training-data pipelines: benchmark
decontamination, intra-document repetition metrics, deterministic stratified
mix sampling, and PII redaction.

Everything is Catalyst column expressions — map-only passes that fuse with
the parquet scan — except where an operator genuinely needs another table
(decontamination joins a *broadcast* benchmark vocabulary; mix sampling
joins *broadcast* per-stratum rates). No corpus-sized shuffle anywhere:
at 100 TB the corpus side of every operator here stays on the mappers.

The reference pipeline has no curation layer (it is a wildlife ETL); this
extends the engine per the build brief's training-data-pipeline surface,
following the C4 / Gopher / fuzzy-decontamination recipes from the public
literature (Raffel et al. 2020; Rae et al. 2021 appendix A).
"""

from __future__ import annotations

from collections.abc import Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

from ningaloo_turtle_etl_spark.operators.text import barrier_col, tokens, with_tokens


def word_ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Space-joined word n-grams from a token-array column; [] when the doc
    has fewer than ``n`` tokens. Shifted-array zip_with
    (`text.sliding_ngrams`) rather than per-gram element_at/slice inside a
    transform — identical gram strings, n array ops per DOC instead of per
    gram (the r11 winnowing constant-factor lesson; the element_at form
    measured slower still than slice). IMPORTANT: pass an *attribute*, not
    the tokenizer expression — the zipped slices reference this column n
    times per doc, and an inlined tokenizer would re-split the text n times
    (formerly O(tokens) times; measured 5× on the 50k-doc bench probe). A
    projected alias holds only while no filter is pushed below it; a
    column from :func:`text.with_tokens` (a ``Generate``) always holds."""
    from ningaloo_turtle_etl_spark.operators.text import sliding_ngrams

    return F.when(F.size(toks) >= n, sliding_ngrams(toks, n)).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams(col: Column | str, n: int) -> Column:
    """n-grams straight from a text column — fine for one-off expressions;
    hot paths should tokenize with ``text.with_tokens`` and use
    ``word_ngrams_from_tokens`` (see its docstring)."""
    return word_ngrams_from_tokens(tokens(col), n)


def benchmark_ngram_vocab(
    benchmark: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-grams of an eval/benchmark set, one row per gram.
    Eval suites are MBs while corpora are TBs — this frame is the broadcast
    side of decontamination."""
    # explode_OUTER + a filter on the GENERATED attribute (which cannot be
    # pushed below the Generate): inner explode would re-build the gram
    # array twice more per row inside an inferred size()>0/isnotnull scan
    # filter.
    return (
        benchmark.select(tokens(text_col).alias("toks"))
        .select(F.explode_outer(word_ngrams_from_tokens(F.col("toks"), n)).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .distinct()
        .withColumn("is_bench", F.lit(True))
    )


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.1,
    carry: tuple[str, ...] = (),
    toks_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: per doc, the fraction of its distinct word
    n-grams that also occur in the benchmark set; ``contaminated`` flags
    docs at/over ``threshold``. ``carry`` names per-doc columns to keep
    (grouped with the id), so a gate on the flags needs no join back to
    ``docs``. ``toks_col`` names a token column from ``text.with_tokens``;
    without one ``text_col`` is tokenized here.

    Scale shape: corpus grams explode map-side, hit the *broadcast* vocab
    (no corpus shuffle for the join), and partial aggregation collapses the
    exploded rows back to one (doc, count) row per doc before the only
    shuffle — whose width is the doc count, not the gram count.
    """
    # Two projections, not one: CollapseProject will not merge a non-cheap
    # alias into a projection that reads it n times, so the tokenizer runs
    # once per doc. Nothing filters between them; a gate on the result sits
    # above the aggregate, whose output it reads.
    keys = [id_col, *carry]
    toks = F.col(toks_col) if toks_col else tokens(text_col)
    per_doc = docs.select(*keys, toks.alias("_toks")).select(
        *keys,
        F.array_distinct(word_ngrams_from_tokens(F.col("_toks"), n)).alias("grams"),
    )
    vocab = benchmark_ngram_vocab(benchmark, text_col, n)
    exploded = per_doc.select(
        *keys, F.size("grams").alias("n_grams"), F.explode_outer("grams").alias("gram")
    )
    marked = exploded.join(F.broadcast(vocab), on="gram", how="left")
    agg = marked.groupBy(*keys, "n_grams").agg(
        F.count("is_bench").alias("n_contaminated")
    )
    ratio = F.when(
        F.col("n_grams") > 0, F.col("n_contaminated") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return agg.select(
        *keys,
        "n_grams",
        "n_contaminated",
        ratio.alias("contam_ratio"),
        (ratio >= threshold).alias("contaminated"),
    )


def with_repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3),
    toks_col: str | None = None,
) -> DataFrame:
    """Gopher-style intra-document repetition: for each n in ``ns``, the
    fraction of word n-grams that are repeats of an earlier occurrence
    (1 - distinct/total; 0.0 for docs too short to have any). High ratios
    mean boilerplate / template spam — a standard pre-training drop rule.
    ``toks_col`` names a token column from ``text.with_tokens``; without
    one ``text_col`` is tokenized here."""
    # Tokens, then the gram arrays built from them, each behind a Generate
    # barrier: a gate on dup_{n}gram_ratio pushed below this projection
    # reads the _g{n} attribute instead of rebuilding grams and tokens once
    # per reference (see text.barrier_col).
    out = df if toks_col else with_tokens(df, text_col, "_toks")
    toks = F.col(toks_col or "_toks")
    for n in ns:
        out = barrier_col(out, f"_g{n}", word_ngrams_from_tokens(toks, n))
    for n in ns:
        grams = F.col(f"_g{n}")
        total = F.size(grams)
        dup = F.when(
            total > 0,
            1.0 - F.size(F.array_distinct(grams)) / total.cast("double"),
        ).otherwise(F.lit(0.0))
        out = out.withColumns(
            {f"n_{n}grams": total, f"dup_{n}gram_ratio": dup}
        )
    return out.drop(*([] if toks_col else ["_toks"]), *[f"_g{n}" for n in ns])


def gopher_repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top2_max: float = 0.20,
    top3_max: float = 0.18,
    dup3_max: float = 0.60,
) -> DataFrame:
    """Character-weighted Gopher repetition rules (Rae et al. 2021,
    appendix A1) — the other half of the repetition family next to
    ``with_repetition_metrics``'s type-level duplicate ratios:

    - ``top_{2,3}gram_char_frac``: chars covered by every occurrence of the
      single most frequent word n-gram, over the doc's token chars
      (``count × len(gram) / len(join(tokens))``; ties broken by
      lexicographically smallest gram).
    - ``dup_{2,3}gram_char_frac``: same numerator summed over every n-gram
      that occurs more than once.
    - ``repeated_word_frac``: 1 − distinct/total words (Gopher's unigram
      degenerate case, computable map-side).
    - ``repetition_ok``: 1 iff top-2 ≤ ``top2_max``, top-3 ≤ ``top3_max``
      and dup-3 ≤ ``dup3_max`` (paper thresholds for the top rules; the
      dup-3 default is looser than the paper's 5..10-gram ladder because
      3-grams repeat far more often than 5-grams).

    Occurrences of a gram may overlap in the text, so char fractions can
    exceed 1.0 for pathological docs — the flag semantics don't care, and
    keeping the formula occurrence-additive is what makes it one
    aggregation instead of an interval-union pass (the common choice in
    public implementations). Like the paper, the rules assume a document
    length gate upstream: a pristine 10-word doc still has
    top-2gram ≈ len(gram)/len(doc) > 20% just from being short, so compose
    with ``with_quality_score``'s length rule (Gopher gates at 50 words)
    rather than running this on micro-docs alone.

    Scale shape: one explode to (doc, n, gram) rows, a (doc, n, gram)-keyed
    count with map-side combine (intra-doc repeats collapse before the
    shuffle), one doc-keyed re-aggregation, and a doc-keyed join back to
    the map-side word stats. No driver state, no windows, no UDFs."""
    base = df.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_toks")
    ).select(
        id_col,
        "_toks",
        F.length(F.concat_ws(" ", F.col("_toks"))).alias("_chars"),
        F.size(F.col("_toks")).alias("_n_words"),
        F.size(F.array_distinct(F.col("_toks"))).alias("_n_distinct"),
    )
    def _tag(n: int):
        # Single-argument lambda on purpose: a two-arg lambda would be
        # interpreted by F.transform as (element, index) and the tag would
        # silently become the gram's POSITION.
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))

    tagged = [
        F.transform(word_ngrams_from_tokens(F.col("_toks"), n), _tag(n))
        for n in (2, 3)
    ]
    grams = base.select(
        id_col, F.explode(F.concat(*tagged)).alias("ng")
    ).select(id_col, F.col("ng.n").alias("n"), F.col("ng.gram").alias("gram"))
    cnt = grams.groupBy(id_col, "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    aggs = []
    for n in (2, 3):
        aggs.append(
            F.min(
                F.when(
                    F.col("n") == n,
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("gram").alias("g")
                    ),
                )
            ).alias(f"_best{n}")
        )
        aggs.append(
            F.sum(
                F.when(
                    (F.col("n") == n) & (F.col("c") > 1),
                    F.col("c") * F.length("gram"),
                ).otherwise(F.lit(0))
            ).alias(f"_dup{n}")
        )
    per = cnt.groupBy(id_col).agg(*aggs)
    out = base.drop("_toks").join(per, on=id_col, how="left")

    def _frac(chars: Column) -> Column:
        return F.round(
            F.when(
                F.col("_chars") > 0,
                F.coalesce(chars, F.lit(0)).cast("double") / F.col("_chars"),
            ).otherwise(F.lit(0.0)),
            6,
        )

    top2 = _frac((-F.col("_best2.nc")) * F.length(F.col("_best2.g")))
    top3 = _frac((-F.col("_best3.nc")) * F.length(F.col("_best3.g")))
    dup2 = _frac(F.col("_dup2"))
    dup3 = _frac(F.col("_dup3"))
    repword = F.round(
        F.when(
            F.col("_n_words") > 0,
            1.0 - F.col("_n_distinct") / F.col("_n_words").cast("double"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return out.select(
        id_col,
        top2.alias("top_2gram_char_frac"),
        top3.alias("top_3gram_char_frac"),
        dup2.alias("dup_2gram_char_frac"),
        dup3.alias("dup_3gram_char_frac"),
        repword.alias("repeated_word_frac"),
        (
            (top2 <= F.lit(top2_max))
            & (top3 <= F.lit(top3_max))
            & (dup3 <= F.lit(dup3_max))
        )
        .cast("int")
        .alias("repetition_ok"),
    )


def _sample_hash(id_col: str) -> Column:
    # First 32 bits of md5(id-as-string), as 8 lowercase hex chars. md5 is
    # bit-identical across engines (unlike xxhash64 seeds), which is what
    # makes the sample reproducible anywhere — including the DuckDB oracle.
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)


def _rate_threshold(rate: Column) -> Column:
    # rate in [0,1] → 8-hex-char cutoff such that P(hash < cutoff) = rate.
    return F.lower(
        F.lpad(F.hex(F.floor(rate * F.lit(4294967296.0)).cast("bigint")), 8, "0")
    )


def deterministic_stratified_sample(
    docs: DataFrame,
    rates: Mapping[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep each row with per-stratum probability ``rates[stratum]``,
    deterministically: row kept iff the 32-bit md5 prefix of its id is under
    ``rate * 2^32``. No RNG state, stable under re-runs, partitioning and
    retries — the property a 100 TB sampling job actually needs (a
    ``rand()`` sample changes under task retry). Strata absent from
    ``rates`` are dropped. Map-only: the rates table is broadcast."""
    spark = docs.sparkSession
    rate_df = spark.createDataFrame(
        [(k, float(v)) for k, v in rates.items()], f"{stratum_col} string, rate double"
    )
    joined = docs.join(F.broadcast(rate_df), on=stratum_col, how="inner")
    # rate >= 1.0 needs the short-circuit: its 9-hex-char threshold would
    # compare lexicographically *below* 8-char hashes.
    keep = (F.col("rate") >= 1.0) | (
        _sample_hash(id_col) < _rate_threshold(F.col("rate"))
    )
    return joined.filter(keep)


def mix_rebalance_rates(
    docs: DataFrame,
    target_shares: Mapping[str, float],
    budget_fraction: float = 0.5,
    stratum_col: str = "lang",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Per-stratum sampling rates that rebalance the corpus toward
    ``target_shares`` (fractions summing to ≤1) within a budget of
    ``budget_fraction`` × total weight: rate_s = min(1, budget·share_s /
    weight_s). One tiny aggregation over (stratum, weight) — the corpus
    scan's partial agg — then pure arithmetic; the result is a
    broadcast-sized dim of one row per stratum. The total weight is a
    window over that one-row-per-stratum frame, so ``docs`` is read once
    (a cross join with its own total would plan ``docs`` twice)."""
    per = docs.groupBy(stratum_col).agg(F.sum(weight_col).alias("w"))
    share = F.lit(None).cast("double")
    for k in sorted(target_shares, reverse=True):
        share = F.when(
            F.col(stratum_col) == k, F.lit(float(target_shares[k]))
        ).otherwise(share)
    # Filter unlisted strata BEFORE least(): Spark's least() skips NULLs
    # (returns the least non-NULL value), so least(1.0, NULL·x) would give
    # rate-less strata a rate of 1.0 instead of dropping them. The filter
    # stays above the window (it reads no partition key), so unlisted
    # strata still count toward the total.
    return (
        per.withColumn("tw", F.sum("w").over(Window.partitionBy()))
        .filter(F.col(stratum_col).isin([str(k) for k in target_shares]))
        .select(
            stratum_col,
            F.least(
                F.lit(1.0),
                (F.lit(float(budget_fraction)) * share)
                * (F.col("tw").cast("double") / F.col("w").cast("double")),
            ).alias("rate"),
        )
    )


def training_mix_sample(
    docs: DataFrame,
    target_shares: Mapping[str, float],
    budget_fraction: float = 0.5,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Deterministic sample of the corpus whose per-stratum weight hits
    ``target_shares`` of a ``budget_fraction`` budget — the "mix the
    training set to 40% en / 20% de / …" step as one plan: tiny agg →
    broadcast rates → map-only hash filter."""
    rates = mix_rebalance_rates(
        docs, target_shares, budget_fraction, stratum_col, weight_col
    )
    # A left join whose filter drops rate-less rows (coalesce → false) keeps
    # the inner-join result, but InferFiltersFromConstraints infers nothing
    # for its preserved side. On an inner join it would push the rates'
    # stratum filter (``lang IN (…)``) into ``docs``, so this read of
    # ``docs`` would differ from the one under the rates aggregate and the
    # two could not share an exchange.
    joined = docs.join(F.broadcast(rates), on=stratum_col, how="left")
    keep = (F.col("rate") >= 1.0) | (
        _sample_hash(id_col) < _rate_threshold(F.col("rate"))
    )
    return joined.filter(F.coalesce(keep, F.lit(False)))


def temperature_mix_sample(
    docs: DataFrame,
    temperature: float = 2.0,
    budget_fraction: float = 0.5,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Temperature-flattened training mix (the multilingual-sampling
    standard: q_s ∝ p_s^(1/T)): T=1 keeps natural proportions, T→∞ tends to
    uniform over strata — low-resource strata get upsampled relative to
    their natural share without hand-written targets. Per-stratum rates are
    min(1, budget·q_s·W/w_s); rows kept by the same deterministic md5-of-id
    rule as the stratified sampler (stable under retries/re-runs). Plan
    shape: two tiny aggs (stratum weights, their powered totals) → broadcast
    rates → map-only filter."""
    per = docs.groupBy(stratum_col).agg(F.sum(weight_col).alias("w"))
    powered = per.select(
        stratum_col,
        F.col("w").cast("double").alias("w"),
        F.pow(F.col("w").cast("double"), F.lit(1.0 / float(temperature))).alias("pw"),
    )
    tot = powered.agg(F.sum("w").alias("tw"), F.sum("pw").alias("tpw"))
    rates = powered.crossJoin(F.broadcast(tot)).select(
        stratum_col,
        F.least(
            F.lit(1.0),
            (F.lit(float(budget_fraction)) * (F.col("pw") / F.col("tpw")))
            * (F.col("tw") / F.col("w")),
        ).alias("rate"),
    )
    joined = docs.join(F.broadcast(rates), on=stratum_col, how="inner")
    keep = (F.col("rate") >= 1.0) | (
        _sample_hash(id_col) < _rate_threshold(F.col("rate"))
    )
    return joined.filter(keep)


# Deliberately simple, RE2-compatible patterns (both Spark's Java regex and
# DuckDB/RE2 accept them) — production systems plug in their own table.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def with_pii_redaction(
    df: DataFrame,
    text_col: str = "text",
    patterns: Mapping[str, str] = PII_PATTERNS,
    out_col: str = "redacted_text",
) -> DataFrame:
    """Count and strip PII spans: per-pattern match counts plus a redacted
    text column with every match replaced by ``[<NAME>]``. Both counting
    AND redaction run sequentially on the progressively-redacted text, so
    ``n_<name>`` equals the number of ``[<NAME>]`` markers in the output —
    counting on the original text double-counted spans an earlier pattern
    already consumed (e.g. the host of ``a@1.2.3.4`` surfacing again as an
    ipv4; r04 review). Pattern order matters and is the redaction order."""
    out = df.withColumn("_red", F.col(text_col))
    for name, pat in patterns.items():
        out = out.withColumn(f"n_{name}", F.regexp_count(F.col("_red"), F.lit(pat)))
        out = out.withColumn(
            "_red", F.regexp_replace(F.col("_red"), pat, f"[{name.upper()}]")
        )
    return out.withColumnRenamed("_red", out_col)


def budget_select(
    df: DataFrame,
    budget: int,
    weight_col: str,
    order_col: str,
    id_col: str = "doc_id",
    descending: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global prefix selection under a budget: order rows by
    (``order_col``, ``id_col``), keep the prefix whose running ``weight_col``
    sum stays within ``budget`` — "take the highest-quality docs until the
    token budget is spent".

    The naive form is ``SUM(w) OVER (ORDER BY ...)``, which Spark executes
    as a single-partition window — the one-reducer bottleneck that dies at
    100 TB. This is the distributed exact equivalent: range-repartition on
    the sort key (cluster-wide sort, no single reducer), take per-partition
    weight totals (one tiny agg — one row per partition — collected to the
    driver), turn them into per-partition prefix offsets (broadcast), and
    add a *within-partition* window cumsum to each row's offset. Identical
    answer, and every stage is partition-parallel; driver state is
    O(num_partitions), not O(rows).

    The range-partitioned frame is eagerly localCheckpoint-ed because two
    jobs read it (totals, then the filter) — without pinning, the second job
    could re-sample different range boundaries and the offsets would lie.
    """
    spark = df.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc(),
        F.col(id_col).asc(),
    ]
    part = (
        df.repartitionByRange(n_part, *order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = {
        r["_pid"]: r["w"]
        for r in part.groupBy("_pid").agg(F.sum(weight_col).alias("w")).collect()
    }
    # Float accumulation: int() truncation here understated the offsets for
    # fractional weight columns (quality-weighted token counts), letting the
    # selected prefix overshoot the budget (r04 review).
    offsets, acc = [], 0.0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += float(totals[pid] or 0)
    off_df = spark.createDataFrame(offsets, "_pid int, _offset double")
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        part.join(F.broadcast(off_df), on="_pid")
        .withColumn(
            "_cum", F.sum(F.col(weight_col).cast("double")).over(w) + F.col("_offset")
        )
        .filter(F.col("_cum") <= F.lit(float(budget)))
        .drop("_pid", "_offset", "_cum")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
    stride: int | None = None,
) -> DataFrame:
    """Split each document into ≤``max_tokens`` token chunks — the
    context-window pre-chunking step of LLM training prep. ``stride``
    (default ``max_tokens``: disjoint chunks) sets the distance between
    chunk starts; ``stride < max_tokens`` yields overlapping sliding
    windows (long-context training convention: chunk i starts at
    ``i*stride``, so consecutive chunks share ``max_tokens - stride``
    tokens). One map-only pass: tokens behind an alias boundary, chunk
    index exploded from a ``sequence``, each chunk cut with ``slice``.
    Docs with no tokens produce no chunks. Output grain: one row per
    (doc, chunk_id)."""
    if stride is None:
        stride = max_tokens
    if not 0 < stride <= max_tokens:
        raise ValueError(f"stride must be in (0, max_tokens]; got {stride}")
    toks_df = df.select(F.col(id_col), tokens(text_col).alias("toks")).filter(
        F.size("toks") > 0
    )
    # chunk starts: 0, stride, 2*stride, ... while start < n_tokens — i.e.
    # ceil(n/stride) chunks; the final ones are shorter than max_tokens.
    n_chunks = F.ceil(F.size("toks") / F.lit(stride)).cast("int")
    exploded = toks_df.select(
        id_col,
        "toks",
        F.size("toks").alias("n_tokens"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_id") * stride + 1, max_tokens
    )
    return exploded.select(
        id_col,
        "chunk_id",
        F.size(chunk).alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def pack_chunks(
    df: DataFrame,
    weight_col: str,
    bin_capacity: int,
    id_col: str = "doc_id",
    num_buckets: int = 64,
) -> DataFrame:
    """Deterministic distributed sequence packing: assign items to
    ~``bin_capacity``-weight bins. Items hash (md5, engine-portable) into
    ``num_buckets`` independent buckets; within a bucket a cumulative sum in
    ``id_col`` order bins items at capacity boundaries. Parallelism comes
    from the buckets (each bucket is one window partition — no global
    window); determinism from the hash + id order. Streaming-pack tradeoff:
    an item that straddles a boundary overflows its bin rather than
    splitting — bins can exceed capacity by at most one item's weight.
    Output adds ``bucket``, ``bin_id``, ``bin_pos``."""
    bucket = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10).cast(
        "int"
    ) % num_buckets
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_bucket = df.withColumn("bucket", bucket)
    cum = F.sum(weight_col).over(w)
    return with_bucket.withColumns(
        {
            "bin_id": F.floor((cum - F.col(weight_col)) / F.lit(bin_capacity)).cast(
                "int"
            ),
            "bin_pos": (cum - F.col(weight_col)).cast("long"),
        }
    )


_LENGTH_BUCKETS = (16, 32, 64, 128, 256, 512, 1024)


def length_bucket(n_tokens: Column) -> Column:
    """Smallest power-of-two bucket cap >= n_tokens, from a fixed literal
    ladder (16..1024; longer docs land in the top bucket). A CASE ladder --
    not float log2 -- so the boundary at exact powers of two is bit-exact
    and portable across engines."""
    expr = F.lit(_LENGTH_BUCKETS[-1])
    for cap in reversed(_LENGTH_BUCKETS):
        expr = F.when(n_tokens <= cap, F.lit(cap)).otherwise(expr)
    return expr.cast("int")


def length_bucket_batches(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_size: int = 8,
    salt: int = 1,
) -> DataFrame:
    """Length-bucketed inference/training batch building: group documents
    into power-of-two token-length buckets, fill fixed-size batches within
    each bucket in id order, and account the padding waste of padding each
    batch to ITS OWN max length (not the bucket cap). The bucketing is what
    bounds the waste: mixing a 900-token doc into a batch of 20-token docs
    pads ~45x; within a pow2 bucket the worst case is 2x.

    Output: one row per batch -- ``(bucket, batch_id, n_docs, max_len,
    sum_len, pad_frac)`` where pad_frac = 1 - sum_len/(n_docs*max_len);
    with ``salt > 1`` an extra ``shard`` column precedes ``batch_id``.

    Scale shape: token counting is map-only Catalyst; the only shuffle is
    the per-bucket window that assigns batch slots. With only ~7 buckets
    that window is skew-prone at corpus scale -- ``salt > 1`` shards it:
    the partition key becomes (bucket, shard) with shard =
    md5(id) mod salt (deterministic, engine-portable), batches renumber
    per shard, and every guarantee except GLOBAL batch numbering is
    preserved (batch ids become (shard, seq) pairs; each batch is still
    single-bucket, still filled in id order within its shard, padding
    accounting unchanged). The per-batch aggregate reuses the same
    partitioning -- no second shuffle; a plan test pins the sharded
    exchange. salt=1 (default) is the oracle-parity path with byte-
    identical output to the unsalted form."""
    if salt < 1:
        raise ValueError("salt must be >= 1")
    from ningaloo_turtle_etl_spark.operators.text import tokens

    n_tok = F.greatest(F.size(tokens(text_col)), F.lit(0))
    sized = df.select(
        F.col(id_col),
        n_tok.alias("_len"),
        length_bucket(n_tok).alias("bucket"),
    )
    if salt > 1:
        sized = sized.withColumn(
            "shard",
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long"),
                F.lit(int(salt)),
            ).cast("int"),
        )
        keys = ["bucket", "shard"]
    else:
        keys = ["bucket"]
    w = Window.partitionBy(*keys).orderBy(id_col)
    slotted = sized.withColumn(
        "batch_id",
        ((F.row_number().over(w) - 1) / F.lit(int(batch_size))).cast("int"),
    )
    return (
        slotted.groupBy(*keys, "batch_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("_len").cast("int").alias("max_len"),
            F.sum("_len").cast("long").alias("sum_len"),
        )
        .withColumn(
            "pad_frac",
            F.round(
                F.lit(1.0)
                - F.col("sum_len")
                / (F.col("n_docs") * F.greatest(F.col("max_len"), F.lit(1))).cast(
                    "double"
                ),
                6,
            ),
        )
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    n_stages: int = 5,
    id_col: str = "doc_id",
    exact: bool = True,
) -> DataFrame:
    """Curriculum staging: split the corpus into ``n_stages`` equal-count
    difficulty stages by a quality/difficulty score (stage 1 = highest
    score = easiest first), and give every document a deterministic
    within-stage shuffle key so a trainer can stream stage by stage without
    correlated ordering artifacts.

    Output: input id + ``(stage, shuffle_key)``; write it partitioned by
    stage for stage-pruned reads.

    exact=True (default, oracle-parity path) assigns stages with NTILE over
    the total order (score desc, id) -- a single global sort, fine to ~1e8
    rows. At 100 TB use exact=False: stage boundaries come from
    approx_percentile on the score (one map-side-combined agg, broadcast
    of n_stages-1 thresholds, map-only binning -- no global sort), trading
    exact equal counts for approximately-equal stage sizes."""
    shuffle_key = F.substring(
        F.md5(F.concat_ws(" ", F.lit("curriculum"), F.col(id_col).cast("string"))),
        1,
        12,
    )
    if exact:
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
        staged = df.withColumn("stage", F.ntile(int(n_stages)).over(w))
    else:
        probs = [i / n_stages for i in range(1, n_stages)]
        cuts = df.select(
            F.percentile_approx(
                F.col(score_col).cast("double"), probs, 100_000
            ).alias("cuts")
        )
        staged = (
            df.crossJoin(F.broadcast(cuts))
            .withColumn(
                "stage",
                # cuts are ascending score quantiles; stage 1 = top scores.
                (
                    F.lit(int(n_stages))
                    - F.aggregate(
                        "cuts",
                        F.lit(0),
                        lambda acc, c: acc
                        + F.when(F.col(score_col) > c, 1).otherwise(0),
                    )
                ).cast("int"),
            )
            .drop("cuts")
        )
    return staged.withColumn("stage", F.col("stage").cast("int")).withColumn(
        "shuffle_key", shuffle_key
    )


def boilerplate_segment_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    seg_words: int | None = None,
    delimiter: str = "\n",
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document line/segment-level dedup — the CCNet / RefinedWeb
    boilerplate pass: split every document into segments (lines by
    ``delimiter``, or fixed-width ``seg_words``-word windows when the
    corpus has no line structure), count how many DISTINCT documents
    within each ``group_col`` contain each segment, and strip segments
    that appear in >= ``min_docs`` docs — headers, nav bars, cookie
    banners, license footers repeat across a crawl domain; body text does
    not. Exact-dup and near-dup passes (`dedup_exact`, MinHash) keep one
    copy of a page; this removes the template even from the copy kept.

    Output: one row per document — (id, group, n_segments, n_removed,
    removed_ratio 6dp, cleaned_len, cleaned_md5) where cleaned_md5
    fingerprints the reassembled in-order text of the kept segments (the
    compact equality proof; callers wanting the text itself take the
    same pipeline through the final select).

    Scale shape: segments explode map-only; the (group, segment) doc
    count is one map-side-combined aggregate; the flag joins back on the
    same (group, segment) key (both sides shuffle-partitioned alike, AQE
    handles the hot-segment skew — exactly the hot keys being removed);
    reassembly is one (id)-keyed aggregate using collect_list of
    (pos, seg) structs sorted in place — per-DOC state, bounded by
    document length, never a window over raw segments."""
    if seg_words is not None and seg_words < 1:
        raise ValueError("seg_words must be >= 1")
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2")
    joiner = " " if seg_words is not None else delimiter
    if seg_words is not None:
        words = F.split(F.col(text_col), " ")
        n_seg = F.ceil(F.size(words) / F.lit(int(seg_words))).cast("int")
        segs = F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.concat_ws(
                " ", F.slice(words, i * seg_words + 1, seg_words)
            ),
        )
    else:
        import re as _re

        segs = F.split(F.col(text_col), _re.escape(delimiter))
    ex = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.posexplode(segs).alias("pos", "seg"),
    )
    counts = ex.groupBy("grp", "seg").agg(
        F.countDistinct("id").alias("_nd")
    )
    marked = ex.join(counts, on=["grp", "seg"]).withColumn(
        "_rm", (F.col("_nd") >= min_docs).cast("int")
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("_rm") == 0, F.struct("pos", "seg")
                )
            )
        ),
        lambda s: s["seg"],
    )
    out = marked.groupBy("id").agg(
        F.first("grp").alias("grp"),
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("_rm").alias("n_removed"),
        F.concat_ws(joiner, kept_sorted).alias("_clean"),
    )
    return out.select(
        F.col("id").alias(id_col),
        F.col("grp").alias(group_col),
        "n_segments",
        "n_removed",
        F.round(F.col("n_removed") / F.col("n_segments"), 6).alias(
            "removed_ratio"
        ),
        F.length("_clean").cast("long").alias("cleaned_len"),
        F.md5("_clean").alias("cleaned_md5"),
    )


def domain_reweight(
    df: DataFrame,
    group_col: str,
    loss_col,
    eta: float = 1.0,
) -> DataFrame:
    """DoReMi-flavored domain reweighting (Xie et al. 2023,
    arXiv:2305.10429 — the multiplicative-weights step, with a static
    excess-loss proxy standing in for the reference-model round trips):
    domains whose mean loss exceeds the cross-domain baseline get
    up-weighted ``exp(eta * excess)`` from a uniform prior, normalized to
    a distribution. The produce-the-next-epoch-mixture step that closes
    the loop temperature_mix_sample opens — feed these weights back as
    its rates.

    Output: one row per domain — (group, n_docs, mean_loss, excess_loss,
    weight), 6dp; weights sum to 1. Mean losses are rounded to 6dp
    BEFORE the exponential so both engines exponentiate identical
    doubles.

    Scale shape: one aggregate to the domains grid; the baseline is a
    1-row broadcast; normalization is a whole-grid window over ~tens of
    rows. The corpus is touched once."""
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(loss_col), 6).alias("mean_loss"),
    )
    base = g.agg(
        F.round(F.avg("mean_loss"), 6).alias("_bl"),
        F.count(F.lit(1)).alias("_k"),
    )
    r = g.crossJoin(F.broadcast(base)).withColumn(
        "_wr",
        F.exp(F.lit(float(eta)) * (F.col("mean_loss") - F.col("_bl")))
        / F.col("_k"),
    )
    w_all = Window.partitionBy()
    return r.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "mean_loss",
        F.round(F.col("mean_loss") - F.col("_bl"), 6).alias("excess_loss"),
        F.round(F.col("_wr") / F.sum("_wr").over(w_all), 6).alias("weight"),
    )


def class_diversity_profile(
    df: DataFrame,
    group_col: str,
    class_col: str,
) -> DataFrame:
    """Composition-diversity profile of each group over a class column —
    the corpus-mix dashboard row deciding whether a source is a monoculture
    (one language / one domain) or balanced: Shannon entropy H = −Σ p ln p
    (nats), its effective class count e^H, Simpson diversity 1 − Σp², and
    the Herfindahl-Hirschman concentration Σp² (HHI; 1 = monoculture).
    Complements ``gini_concentration`` (size skew ACROSS groups) — this is
    skew WITHIN each group's class mix.

    Determinism: class counts are exact integers; each class's entropy /
    p² term quantizes to integer nanos before the per-group sum (the
    repo-wide convention), so class-order accumulation is moot.
    Returns (group, n_rows, n_classes, shannon_h, effective_classes,
    simpson, hhi), 6dp.

    Scale shape: one map-side-combining aggregate to the (group, class)
    grid; everything else runs on that grid."""
    g = F.col(group_col)
    cell = df.groupBy(
        g.alias("g"), F.col(class_col).alias("cl")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = cell.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c") / F.col("n")
    j = cell.join(F.broadcast(tot), on="g")
    terms = j.select(
        "g",
        "n",
        F.round(-p * F.log(p) * F.lit(1e9), 0).cast("long").alias("hm"),
        F.round(p * p * F.lit(1e9), 0).cast("long").alias("sm"),
    )
    agg = terms.groupBy("g").agg(
        F.max("n").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("hm").cast("long").alias("h_nano"),
        F.sum("sm").cast("long").alias("s_nano"),
    )
    h = F.col("h_nano") / 1e9
    hhi = F.col("s_nano") / 1e9
    return agg.select(
        F.col("g").alias(group_col),
        "n_rows",
        "n_classes",
        F.round(h, 6).alias("shannon_h"),
        F.round(F.exp(h), 6).alias("effective_classes"),
        F.round(F.lit(1.0) - hhi, 6).alias("simpson"),
        F.round(hhi, 6).alias("hhi"),
    )


def gini_concentration(
    df: DataFrame, key_col: str, weight_col: str | None = None
) -> DataFrame:
    """Gini coefficient of mass across ``key_col`` values — the
    corpus-concentration gauge (0 = every source contributes equally,
    -> 1 = one source dominates): a whole-distribution number rather
    than a max-based skew factor. Mass is the
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
