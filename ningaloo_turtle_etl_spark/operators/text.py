"""Text-analysis operators for training-data pipelines.

Everything here is pure Catalyst column expressions over the ``documents``
table — no Python UDFs — so at 100 TB these are map-only, codegen'd passes
that fuse with the scan. (The reference has no text layer; this extends the
engine per the build brief's training-data-pipeline surface.)

Operators: token counting (whitespace + BPE-ish regex estimate), quality
scoring (length/punct/stopword ratios), language ID (marker-word n-gram
heuristic), document fingerprinting (stable content hash + shingle hashes).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# A tiny multilingual stopword/marker table. At scale this would live in a
# broadcast dimension table; inlined literals keep it codegen-able.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans"),
    "es": ("el", "la", "los", "y", "es", "una", "en"),
    "zh": ("的", "是", "在", "了", "和", "有", "我"),
}

ENGLISH_STOPWORDS = LANG_MARKERS["en"] + ("it", "that", "was", "for", "on")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization, empty-safe."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def sliding_ngrams(toks: Column, n: int) -> Column:
    """Positional word n-grams (duplicates kept) by SHIFTED-ARRAY
    zip_with: zip n doc-level slices, concatenating one token per step —
    n-1 string concats per position and n array allocations per DOC.
    The former ``transform(indices, i -> concat_ws(slice(toks, i, n)))``
    form allocated one slice per POSITION inside an interpreted
    higher-order function: 3.3 s of a 3.7 s gram+hash stage at 100k
    docs, 3× cheaper zipped (the winnowing r11 lesson, shared by every
    n-gram family). Callers MUST guard with ``size(toks) >= n`` — the
    slices have negative length on shorter docs."""
    m = F.size(toks) - F.lit(n - 1)
    g = F.slice(toks, 1, m)
    for o in range(1, n):
        g = F.zip_with(
            g, F.slice(toks, o + 1, m), lambda x, y: F.concat_ws(" ", x, y)
        )
    return g


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

    It is also the one barrier that filter pushdown respects:
    ``PushPredicateThroughNonJoin`` substitutes a projected alias's
    expression into every filter it pushes below the projection, so a gate
    on a token-derived column would re-run the tokenizer once per
    reference. A filter cannot move below the Generate that produces the
    attribute it reads.

    Use it whenever a computed array/struct column is consumed by
    per-element lambdas or by pushed-down gates downstream; plain
    single-use references don't need it."""
    return df.select("*", F.explode(F.array(expr)).alias(name))


def with_tokens(df: DataFrame, text_col: str = "text", toks_col: str = "toks") -> DataFrame:
    """``df`` plus ``toks_col``, the whitespace tokens of ``text_col``, behind
    a Generate barrier (:func:`barrier_col`). Tokenize once and pass
    ``toks_col`` to every operator that takes one."""
    return barrier_col(df, toks_col, tokens(text_col))


def with_token_counts(
    df: DataFrame, text_col: str = "text", toks_col: str | None = None
) -> DataFrame:
    """Token counting: whitespace words plus a BPE-ish subword estimate
    (wordpieces ≈ runs of letters / digits / single punctuation — the
    pre-tokenizer regex family GPT-2-style BPEs use). ``toks_col`` names a
    token column from :func:`with_tokens`; without one the words are
    tokenized here, behind their own barrier."""
    out = df if toks_col else with_tokens(df, text_col, "_toks")
    toks = F.col(toks_col or "_toks")
    bpe_pieces = F.filter(
        F.split(
            F.regexp_replace(F.col(text_col), r"([^\w\s]|\d)", r" $1 "), r"\s+"
        ),
        lambda t: t != "",
    )
    # greatest(size, 0) / coalesce: F.size(NULL) is -1 under Spark's default
    # legacy.sizeOfNull, so a NULL text row would otherwise contribute
    # NEGATIVE token counts to downstream budget sums (r04 review).
    out = out.withColumns(
        {
            "n_words": F.greatest(F.size(toks), F.lit(0)),
            "n_chars": F.coalesce(F.length(text_col), F.lit(0)),
            # ~4 chars/token floor keeps the estimate sane for CJK strings
            # where whitespace tokenization collapses.
            "n_tokens_est": F.greatest(
                F.size(bpe_pieces),
                F.ceil(F.coalesce(F.length(text_col), F.lit(0)) / 4).cast("int"),
                F.lit(0),
            ),
        }
    )
    return out if toks_col else out.drop("_toks")


def with_quality_score(
    df: DataFrame,
    text_col: str = "text",
    stopwords: Sequence[str] = ENGLISH_STOPWORDS,
) -> DataFrame:
    """Heuristic document quality in [0,1]: penalize too-short/too-long docs,
    reward healthy stopword density and word shape, penalize punctuation
    soup. The C4/Gopher-style rule family as one fused projection."""
    toks = tokens(text_col)
    n_words = F.size(toks)
    n_chars = F.length(text_col)
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    # [^\p{L}\p{N}_\s], not [^\w\s]: Java's \w is ASCII-only without
    # UNICODE_CHARACTER_CLASS, so every CJK/accented letter counted as
    # punctuation and fluent Chinese text scored punct_ratio ≈ 1.0 →
    # quality ≤ 0.15 (r04 review). \p{L}/\p{N} are Unicode-aware in BOTH
    # Java regex and DuckDB's RE2, keeping oracle parity. (The BPE-estimate
    # regex above intentionally KEEPS ASCII \w: treating each CJK char as
    # its own piece is the right token estimate there.)
    n_punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[^\p{L}\p{N}_\s]", "")
    )
    mean_word_len = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))

    length_ok = F.when((n_words >= 10) & (n_words <= 100000), 1.0).otherwise(0.2)
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    stop_ok = F.when(stop_ratio > 0.05, 1.0).otherwise(0.5)
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio < 0.2, 1.0).otherwise(0.3)
    shape_ok = F.when((mean_word_len >= 2) & (mean_word_len <= 12), 1.0).otherwise(0.5)

    return df.withColumns(
        {
            "stopword_ratio": stop_ratio,
            "punct_ratio": punct_ratio,
            "quality_score": (length_ok * stop_ok * punct_ok * shape_ok),
        }
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: score = count of language-marker tokens;
    argmax wins, ties broken by language code order, no markers → 'und'.
    A real system would use char-n-gram models; the *engine shape* is the
    same single map-only projection."""
    toks = F.transform(tokens(text_col), F.lower)

    def marker_score(markers: tuple[str, ...]) -> Column:
        # NB: the lambda must be unary — F.filter passes the element index to
        # a second parameter, so a default-arg closure would be clobbered.
        arr = F.array(*[F.lit(x) for x in markers])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    def char_marker_score(markers: tuple[str, ...]) -> Column:
        # Unsegmented CJK is ONE whitespace token, so token-equality scoring
        # never fires on real Chinese text (r04 review). Count marker
        # CHARACTER occurrences instead: sum of length deltas after
        # deleting each marker — replace() is identical in DuckDB, so the
        # oracle replays it exactly.
        total = F.lit(0)
        for m in markers:
            total = total + (
                F.length(F.col(text_col))
                - F.length(F.replace(F.col(text_col), F.lit(m), F.lit("")))
            )
        return F.coalesce(total, F.lit(0))

    scores = {
        lang: (char_marker_score(m) if lang == "zh" else marker_score(m))
        for lang, m in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    out = df
    for lang, s in scores.items():
        out = out.withColumn(f"score_{lang}", s)
    return out.withColumn("predicted_lang", pred)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stable content fingerprint: md5 prefix of the casefolded,
    whitespace-collapsed text. Normalization-then-hash is the dedup key the
    exact-dedup operator groups on; md5 (not xxhash) keeps it portable
    across engines and languages."""
    normalized = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return df.withColumn("fingerprint", F.substring(F.md5(normalized), 1, 16))


def unigram_lm_scores(
    df: DataFrame,
    vocab_size: int = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style LM quality scoring with a unigram model fit on the corpus
    itself: per doc, the average negative log-likelihood of its tokens under
    p(w) = count(w)/N for the ``vocab_size`` most frequent words, with an
    out-of-vocabulary floor of 1/N. Low avg_nll ≈ ordinary, fluent text;
    high ≈ rare-token soup — the "keep the head of the perplexity
    distribution" filter of the CCNet pipeline (Wenzek et al. 2020), with
    the n-gram LM reduced to its unigram backbone so the whole thing stays
    in Catalyst.

    Scale shape: token counts collapse map-side (partial agg) to a
    vocab-sized table; the top-V cut is a TakeOrdered (count desc, word asc
    — deterministic under ties); scoring joins the *broadcast* vocab and
    re-aggregates per doc. The corpus never shuffles bodies; the two
    doc-width shuffles are the token-count agg input (vocab-sized after
    combine) and the per-doc score agg."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("toks"))
    # explode_outer + filter ABOVE the generate (cannot be pushed below it):
    # inner explode would re-build the token array in an inferred filter.
    exploded = toks.select(
        id_col, F.explode_outer("toks").alias("w")
    ).filter(F.col("w").isNotNull())
    counts = exploded.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("n"))
    vocab = counts.orderBy(F.desc("c"), F.asc("w")).limit(vocab_size)
    scored = (
        exploded.join(F.broadcast(vocab), on="w", how="left")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "nll",
            -F.log(
                F.coalesce(F.col("c"), F.lit(1)).cast("double")
                / F.col("n").cast("double")
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("nll"), 6).alias("avg_nll"),
    )


def bigram_lm_scores(
    df: DataFrame,
    lambda_: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Interpolated bigram LM quality scoring — one step up the n-gram
    ladder from ``unigram_lm_scores`` toward CCNet's KenLM filter (Wenzek
    et al. 2020), still entirely in Catalyst: fit bigram and unigram
    counts on the corpus itself, then score every token position 2..n
    with the Jelinek-Mercer mixture

        p(w | prev) = λ·c(prev,w)/c(prev·) + (1−λ)·(c(w)+1)/(N+V+1)

    (c(prev·) = occurrences of prev as a non-final token; the add-one
    unigram term carries the OOV mass so p > 0 always). Output: one row
    per document that has ≥1 bigram — (id, n_bigrams, avg_nll); low
    avg_nll ≈ fluent, predictable text, high ≈ shuffled/rare-token soup.

    Scale shape: bigram extraction is a map-only pass fused with the scan
    (no UDFs); the count tables collapse map-side (partial agg) to
    bigram-type / vocab-sized frames; prefix counts re-aggregate the
    bigram counts (narrow). The scoring joins carry no hint — bigram type
    tables outgrow broadcast on real corpora, and AQE picks broadcast
    exactly when they don't. The only doc-width shuffles are the pair agg
    input (type-sized after combine) and the per-doc score agg. (A
    barrier_col Generate here was A/B'd and REVERTED: for parquet-backed
    text the per-element tokenizer re-evaluation is cheap and the extra
    Generate cost slightly more than it saved — see
    barrier_col above for when the cliff is real.)"""
    toks = df.select(F.col(id_col), tokens(text_col).alias("toks"))
    idx = F.when(
        F.size("toks") >= 2, F.sequence(F.lit(0), F.size("toks") - 2)
    ).otherwise(F.array().cast("array<int>"))
    pairs = toks.select(
        id_col,
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("toks", i + 1).alias("prev"),
                    F.element_at("toks", i + 2).alias("w"),
                ),
            )
        ).alias("pw"),
    ).select(id_col, F.col("pw.prev").alias("prev"), F.col("pw.w").alias("w"))

    bc = pairs.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("bc"))
    pc = bc.groupBy("prev").agg(F.sum("bc").alias("pc"))
    exploded = toks.select(F.explode_outer("toks").alias("tok")).filter(
        F.col("tok").isNotNull()
    )
    uc = exploded.groupBy("tok").agg(F.count(F.lit(1)).alias("uc"))
    totals = uc.agg(
        F.sum("uc").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )

    lam = float(lambda_)
    scored = (
        pairs.join(bc, on=["prev", "w"], how="left")
        .join(pc, on="prev", how="left")
        .join(uc.withColumnRenamed("tok", "w"), on="w", how="left")
        .crossJoin(F.broadcast(totals))
    )
    p_bi = F.coalesce(F.col("bc"), F.lit(0)).cast("double") / F.col("pc").cast(
        "double"
    )
    p_uni = (F.coalesce(F.col("uc"), F.lit(0)) + 1).cast("double") / (
        F.col("n_total") + F.col("v_size") + 1
    ).cast("double")
    nll = -F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni)
    return scored.withColumn("nll", nll).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 6).alias("avg_nll"),
    )


def perplexity_buckets(
    df: DataFrame,
    lambda_: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """CCNet-style head/middle/tail partitioning (Wenzek et al. 2020): score
    every document with the corpus-fit Jelinek-Mercer bigram LM
    (``bigram_lm_scores``), then split each language into perplexity
    terciles — ``head`` = most fluent third (lowest avg NLL), ``tail`` =
    least. Returns one row per document: (id, lang, n_bigrams, avg_nll,
    bucket).

    Bucketing is by per-language tercile CUT POINTS (a languages-sized
    aggregate broadcast back), not an ``ntile`` window — CCNet's actual
    recipe, and the scale-correct one: a per-lang ``ntile`` serializes each
    language through one task, while the cut-point join keeps the corpus
    side map-only. Docs exactly on a cut land in the lower bucket on both
    engines because cuts and scores are both rounded to 6 decimals before
    comparing. Bucket sizes are near-terciles, not exact thirds, when
    scores tie across a cut.

    ``exact=True`` uses Spark's exact interpolated ``percentile`` —
    bit-compatible with DuckDB ``quantile_cont`` (the oracle row), but it
    buffers each language's scores in its agg group; pass ``exact=False``
    at real scale for the mergeable ``approx_percentile`` sketch (same
    plan shape, approximate cuts). Docs with <2 tokens have no bigram
    score and are excluded, as in ``bigram_lm_scores``."""
    scores = bigram_lm_scores(df, lambda_, text_col, id_col)
    labeled = df.select(F.col(id_col), F.col(lang_col)).join(
        scores, on=id_col, how="inner"
    )
    pct = (
        (lambda q: F.percentile("avg_nll", F.lit(q)))
        if exact
        else (
            lambda q: F.approx_percentile(
                "avg_nll", F.lit(q), F.lit(accuracy)
            )
        )
    )
    cuts = labeled.groupBy(lang_col).agg(
        F.round(pct(1.0 / 3.0), 6).alias("_c1"),
        F.round(pct(2.0 / 3.0), 6).alias("_c2"),
    )
    return (
        labeled.join(F.broadcast(cuts), on=lang_col, how="inner")
        .withColumn(
            "bucket",
            F.when(F.col("avg_nll") <= F.col("_c1"), F.lit("head"))
            .when(F.col("avg_nll") <= F.col("_c2"), F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .select(id_col, lang_col, "n_bigrams", "avg_nll", "bucket")
    )


def tfidf_top_terms(
    df: DataFrame,
    n_top: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``n_top`` terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1, the sklearn smoothing) — the classic
    keyword-extraction / representation primitive. All relational: the
    (doc, token, tf) pairs come from an explode + partial-agg pass, the
    document frequency is a re-aggregation of those pairs (each pair is
    distinct by construction — no countDistinct), and N broadcasts as a
    one-row dim. Catalyst recomputes the pair subplan for the docfreq
    branch rather than materializing it (two corpus scans; persist the
    pair frame via operators.cache to trade the second scan for storage,
    the same knob as DSIR's share_scan). The docfreq dim broadcasts, and
    the final per-doc top-k runs under Spark's WindowGroupLimit pushdown
    (rank filter applied before the window shuffle — pinned in tests).
    Scores are rounded to 6 dp BEFORE ranking (ties break by term) so the
    selected terms are reproducible cross-engine despite last-ulp ln()
    differences.

    Output: (id, term, tfidf, rank)."""
    from pyspark.sql.window import Window

    pairs = (
        df.select(F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    docfreq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + F.lit(1.0)
    scored = (
        pairs.join(docfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(n_top))
    )


def zipf_fit(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Zipf's-law fit per corpus slice: OLS of ln(freq) on ln(rank) over
    the slice's word-frequency table (rank 1 = most frequent; ties broken
    by word so the ranking is total and engine-independent). A healthy
    natural-language slice sits near slope ≈ −1; machine-generated or
    template text bends the curve — the slope and its r² are cheap
    corpus-health gauges to trend per source/snapshot.

    Returns one row per slice: (group, n_types, n_tokens, zipf_slope,
    zipf_intercept, fit_r2).

    Numerics: each ln is rounded to integer MICRO-units before summing, so
    every OLS moment is an exact integer and summation order cannot move
    the result (the micro-unit factors cancel in slope/r²; the intercept
    divides back out). Scale shape: corpus explodes once to (group, word)
    with map-side combine; the rank window sorts the VOCABULARY of each
    slice (millions of rows at 100 TB, not trillions); moments are one
    vocabulary-sized aggregation."""
    from pyspark.sql.window import Window

    wf = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("word"),
        )
        .groupBy("grp", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("grp").orderBy(F.desc("freq"), F.asc("word"))
    ranked = wf.withColumn("rank", F.row_number().over(w)).select(
        "grp",
        "freq",
        F.round(F.log(F.col("rank").cast("double")) * 1e6, 0)
        .cast("long")
        .alias("xi"),
        F.round(F.log(F.col("freq").cast("double")) * 1e6, 0)
        .cast("long")
        .alias("yi"),
    )
    m = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("freq").alias("n_tokens"),
        F.sum("xi").alias("sx"),
        F.sum("yi").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).alias("sxx"),
        F.sum(F.col("xi") * F.col("yi")).alias("sxy"),
        F.sum(F.col("yi") * F.col("yi")).alias("syy"),
    )
    n = F.col("n_types").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy, syy = (
        F.col("sxx").cast("double"),
        F.col("sxy").cast("double"),
        F.col("syy").cast("double"),
    )
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    slope = F.when(varx > 0, cov / varx)
    return m.select(
        F.col("grp").alias(group_col),
        "n_types",
        "n_tokens",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            F.when(varx > 0, (sy - slope * sx) / (n * F.lit(1e6))), 6
        ).alias("zipf_intercept"),
        F.round(
            F.when((varx > 0) & (vary > 0), cov * cov / (varx * vary)), 6
        ).alias("fit_r2"),
    )


def heaps_fit(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law fit per corpus slice: V(n) = K·n^β estimated by OLS of
    ln(cumulative distinct types) on ln(cumulative tokens) along the
    slice's doc-id order. β far from the 0.4-0.6 natural-language band is
    another corpus-health tripwire (template text saturates early, id-like
    junk never saturates) — the growth-curve complement to ``zipf_fit``.

    Returns (group, n_docs, total_tokens, total_types, heaps_beta,
    heaps_log_k, fit_r2).

    The cumulative curve needs no per-token scan state: each word
    contributes a type exactly at its FIRST doc (one (group, word)-keyed
    min), so per-doc new-type counts aggregate map-side and the cumsum
    window walks doc-sized rows per group. At 100 TB the per-group window
    is the sequential part — sample log-spaced checkpoint docs first if a
    single slice holds billions of docs. Same integer micro-unit moments
    as zipf_fit: summation order cannot move the fit."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("word"),
    )
    per_doc_tokens = toks.groupBy("grp", "doc").agg(
        F.count(F.lit(1)).alias("n_toks")
    )
    new_types = (
        toks.groupBy("grp", "word")
        .agg(F.min("doc").alias("doc"))
        .groupBy("grp", "doc")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("doc")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = (
        per_doc_tokens.join(new_types, on=["grp", "doc"], how="left")
        .select(
            "grp",
            "doc",
            F.sum("n_toks").over(w).alias("cum_tokens"),
            F.sum(F.coalesce("n_new", F.lit(0))).over(w).alias("cum_types"),
        )
        .select(
            "grp",
            "cum_tokens",
            "cum_types",
            F.round(F.log(F.col("cum_tokens").cast("double")) * 1e6, 0)
            .cast("long")
            .alias("xi"),
            F.round(F.log(F.col("cum_types").cast("double")) * 1e6, 0)
            .cast("long")
            .alias("yi"),
        )
    )
    m = curve.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("cum_tokens").alias("total_tokens"),
        F.max("cum_types").alias("total_types"),
        F.sum("xi").alias("sx"),
        F.sum("yi").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).alias("sxx"),
        F.sum(F.col("xi") * F.col("yi")).alias("sxy"),
        F.sum(F.col("yi") * F.col("yi")).alias("syy"),
    )
    n = F.col("n_docs").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy, syy = (
        F.col("sxx").cast("double"),
        F.col("sxy").cast("double"),
        F.col("syy").cast("double"),
    )
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    slope = F.when(varx > 0, cov / varx)
    return m.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "total_tokens",
        "total_types",
        F.round(slope, 6).alias("heaps_beta"),
        F.round(
            F.when(varx > 0, (sy - slope * sx) / (n * F.lit(1e6))), 6
        ).alias("heaps_log_k"),
        F.round(
            F.when((varx > 0) & (vary > 0), cov * cov / (varx * vary)), 6
        ).alias("fit_r2"),
    )


def token_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document token-distribution statistics: Shannon entropy (nats)
    of the lowercased token distribution, type-token ratio, and counts —
    the information-density quality signal (low entropy = repetitive /
    boilerplate text; used alongside the Gopher repetition rules).

    Documents with zero tokens are dropped (entropy is undefined on an
    empty distribution); filter upstream if empty docs need rows.

    Scale shape: explode -> (doc, token) partial-agg -> per-doc agg. Both
    shuffles key on the doc id, so Catalyst reuses one Exchange for the
    two aggregations; nothing is ever corpus-global."""
    counts = (
        df.select(
            F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
        )
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.log("c")).alias("_clogc"),
    )
    # H = ln(n) - (1/n) * sum(c * ln c) — one pass, no per-token p column.
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_types",
        F.round(
            F.log("n_tokens") - F.col("_clogc") / F.col("n_tokens"), 6
        ).alias("entropy"),
        F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("type_token_ratio"),
    )


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading-ease per document, from pure-Catalyst counts: words
    (whitespace tokens), sentences (runs of [.!?], floored at 1), and a
    syllable proxy (vowel-group runs [aeiouy]+ — the standard cheap
    estimator, within ~10% of dictionary syllables on English prose).
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words); higher is
    easier, 60-70 is plain English. The long-sentence/dense-word signal
    that complements with_quality_score's ratio heuristics in a curation
    stack. Map-only, three regex passes, no UDF; empty docs get a null
    score rather than a division blow-up."""
    low = F.lower(F.col(text_col))
    words = F.size(
        F.filter(F.split(low, r"\s+"), lambda x: x != F.lit(""))
    )
    sentences = F.greatest(
        F.lit(1), F.size(F.expr(f"regexp_extract_all({text_col}, '[.!?]+', 0)"))
    )
    syllables = F.size(
        F.expr(f"regexp_extract_all(lower({text_col}), '[aeiouy]+', 0)")
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * words / sentences
        - F.lit(84.6) * syllables / words
    )
    return (
        df.withColumn("n_words", words)
        .withColumn("n_sentences", sentences)
        .withColumn("n_syllables", syllables)
        .withColumn(
            "flesch",
            F.when(words > 0, F.round(flesch, 4)),
        )
    )


def oov_rate(
    df: DataFrame,
    vocab_size: int = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-``vocab_size`` token
    vocabulary by corpus frequency (ties broken lexicographically — a
    total order, so the vocabulary is deterministic cross-engine) and
    score every document's out-of-vocabulary token fraction. High OOV is
    the standard screen for encoding damage, boilerplate languages the
    tokenizer never saw, and docs that will explode into bytes at
    tokenize time.

    Output: one row per doc — ``(id, n_tokens, n_oov, oov_frac)``;
    tokenless docs report 0/0/0.0.

    Scale shape: the token count table is vocabulary-sized (map-side
    combined); its top-k is a TakeOrdered, never a global sort; the doc
    scoring pass is one explode + broadcast vocab semi-probe +
    doc-keyed partial agg. The corpus is touched twice (count pass,
    score pass) -- cache the tokenized projection if it fits, or fold the
    count pass into a prior profiling job at 100 TB."""
    toks = tokens(F.lower(F.col(text_col)))
    pairs = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    counts = pairs.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window

    wv = Window.orderBy(F.col("n").desc(), F.col("tok"))
    vocab = (
        counts.withColumn("_r", F.row_number().over(wv))
        .filter(F.col("_r") <= int(vocab_size))
        .select("tok", F.lit(True).alias("_in_vocab"))
    )
    scored = (
        pairs.join(F.broadcast(vocab), on="tok", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            F.round(
                F.coalesce(
                    F.col("n_oov") / F.col("n_tokens").cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("oov_frac"),
        )
    )


def source_scorecard(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source corpus health scorecard — the one-table rollup a data
    vendor review actually reads: volume, mean length (chars/tokens),
    exact-dup rate (1 - distinct fingerprints / docs), and the dominant
    language with its share (low purity = mislabeled feed or mixed
    crawl). Each column is the headline of a deeper operator (dedup_exact,
    lang_id_confusion, text_token_stats); this is the triage view that
    says WHICH source deserves the deep pass.

    Output: one row per source — (source, n_docs, mean_chars, mean_tokens,
    dup_rate, top_lang, top_lang_share), 6dp.

    Scale shape: one map-only featurize pass, two map-side-combined
    aggregates (per-source moments+distinct, per-(source,lang) counts)
    and a WindowGroupLimit rank over the sources x langs grid. The corpus
    is touched once."""
    from pyspark.sql.window import Window

    base = with_fingerprint(
        df.select(
            F.col(group_col).alias("src"),
            F.col(text_col).alias("text"),
            F.col(lang_col).alias("lg"),
        ),
        "text",
    ).select(
        "src",
        "lg",
        "fingerprint",
        F.length("text").alias("_nc"),
        F.size(tokens("text")).alias("_nt"),
    )
    stats = base.groupBy("src").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("_nc"), 6).alias("mean_chars"),
        F.round(F.avg("_nt"), 6).alias("mean_tokens"),
        F.round(
            1 - F.countDistinct("fingerprint") / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )
    lang_counts = base.groupBy("src", "lg").agg(
        F.count(F.lit(1)).alias("_lc")
    )
    w = Window.partitionBy("src").orderBy(F.desc("_lc"), F.asc("lg"))
    top = (
        lang_counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("src", F.col("lg").alias("top_lang"), "_lc")
    )
    return (
        stats.join(top, on="src")
        .select(
            F.col("src").alias(group_col),
            "n_docs",
            "mean_chars",
            "mean_tokens",
            "dup_rate",
            "top_lang",
            F.round(F.col("_lc") / F.col("n_docs"), 6).alias(
                "top_lang_share"
            ),
        )
    )


# --- generation-eval metrics: corpus BLEU / ROUGE-N -------------------------
def _ordered_ngrams(toks: Column, n: int) -> Column:
    """Positional word n-grams (duplicates KEPT — clipped counting needs
    multiset semantics, unlike the distinct shingles the dedup family
    uses). Texts shorter than n contribute no n-grams, per the standard
    BLEU convention."""
    return F.when(F.size(toks) >= n, sliding_ngrams(toks, n)).otherwise(
        F.array().cast("array<string>")
    )


def corpus_bleu_rouge(
    df: DataFrame,
    cand_col: str,
    ref_col: str,
    id_col: str,
    max_n: int = 4,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Corpus-level BLEU (Papineni et al. 2002) and ROUGE-N recall over
    paired (candidate, reference) text columns — the generation-eval
    numbers a training-data pipeline reports when it distills, rewrites,
    or back-translates at scale. Case-sensitive whitespace tokens (eval
    must not fold what the model generated).

    Per n ≤ ``max_n``: clipped matches Σ_g min(count_cand(g),
    count_ref(g)) are summed CORPUS-wide before dividing (the corpus-BLEU
    convention — micro-average, not a mean of per-sentence scores), giving
    modified precision p_n = clip/Σcand_n and ROUGE-n recall
    r_n = clip/Σref_n. BLEU = BP · exp(Σ ln(p_n)/max_n) with brevity
    penalty BP = min(1, e^(1−r/c)) on total token lengths; BLEU is 0 if
    any p_n is 0 (standard, no smoothing — deterministic and replayable).

    Output per group: (group…, n_pairs, cand_tokens, ref_tokens,
    brevity_penalty, p1..p{max_n}, rouge1_recall, rouge2_recall, bleu),
    6dp.

    Scale shape: n-gram counts explode to (pair, n, gram) grain with
    map-side combine; clipping is ONE inner equi-join at that grain
    (grams missing on either side clip to 0 and never move); everything
    after is a groups×max_n aggregate. No pair ever compares to another
    pair, so work is linear in corpus token count."""
    if max_n < 2:
        raise ValueError("max_n must be >= 2 (rouge2 is part of the contract)")
    g = list(group_cols)
    base = df.select(
        *g,
        F.col(id_col).alias("_id"),
        tokens(cand_col).alias("_tc"),
        tokens(ref_col).alias("_tr"),
    )
    grams_c = base.select(
        *g,
        "_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(n).alias("n"),
                    _ordered_ngrams(F.col("_tc"), n).alias("gs"),
                )
                for n in range(1, max_n + 1)
            ])
        ).alias("_b"),
    ).select(*g, "_id", F.col("_b.n").alias("n"), F.explode("_b.gs").alias("gram"))
    grams_r = base.select(
        "_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(n).alias("n"),
                    _ordered_ngrams(F.col("_tr"), n).alias("gs"),
                )
                for n in range(1, max_n + 1)
            ])
        ).alias("_b"),
    ).select("_id", F.col("_b.n").alias("n"), F.explode("_b.gs").alias("gram"))
    cc = grams_c.groupBy(*g, "_id", "n", "gram").agg(
        F.count(F.lit(1)).alias("cc")
    )
    rc = grams_r.groupBy("_id", "n", "gram").agg(
        F.count(F.lit(1)).alias("rc")
    )
    clipped = cc.join(rc, on=["_id", "n", "gram"]).select(
        *g, "_id", "n", F.least("cc", "rc").alias("clip")
    )
    per_n = (
        cc.groupBy(*g, "n").agg(F.sum("cc").alias("cand_n"))
        .join(
            clipped.groupBy(*g, "n").agg(F.sum("clip").alias("clip_n")),
            on=g + ["n"],
            how="left",
        )
        .join(
            # ref totals need the group key: recover it from the cand side
            base.select(*g, "_id")
            .join(rc, on="_id")
            .groupBy(*g, "n")
            .agg(F.sum("rc").alias("ref_n")),
            on=g + ["n"],
            how="left",
        )
        .fillna(0, subset=["clip_n"])
    )
    p = F.col("clip_n") / F.col("cand_n")
    r = F.col("clip_n") / F.col("ref_n")
    wide = per_n.groupBy(*g).agg(
        *[
            F.max(F.when(F.col("n") == n, p)).alias(f"p{n}")
            for n in range(1, max_n + 1)
        ],
        F.max(F.when(F.col("n") == 1, r)).alias("rouge1_recall"),
        F.max(F.when(F.col("n") == 2, r)).alias("rouge2_recall"),
    )
    lens = base.groupBy(*g).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.size("_tc")).alias("cand_tokens"),
        F.sum(F.size("_tr")).alias("ref_tokens"),
    )
    joined = lens.join(wide, on=g) if g else lens.crossJoin(wide)
    bp = (
        F.when(F.col("cand_tokens") == 0, F.lit(0.0))  # empty candidates
        .when(F.col("cand_tokens") >= F.col("ref_tokens"), F.lit(1.0))
        .otherwise(
            F.exp(
                F.lit(1.0)
                - F.col("ref_tokens") / F.col("cand_tokens").cast("double")
            )
        )
    )
    all_pos = None
    for n in range(1, max_n + 1):
        cond = F.col(f"p{n}") > 0
        all_pos = cond if all_pos is None else (all_pos & cond)
    log_mean = sum(
        [F.log(F.col(f"p{n}")) for n in range(2, max_n + 1)],
        F.log(F.col("p1")),
    ) / F.lit(float(max_n))
    bleu = F.when(all_pos, bp * F.exp(log_mean)).otherwise(F.lit(0.0))
    return joined.select(
        *g,
        "n_pairs",
        "cand_tokens",
        "ref_tokens",
        F.round(bp, 6).alias("brevity_penalty"),
        *[
            F.round(F.coalesce(F.col(f"p{n}"), F.lit(0.0)), 6).alias(f"p{n}")
            for n in range(1, max_n + 1)
        ],
        F.round(F.coalesce("rouge1_recall", F.lit(0.0)), 6).alias(
            "rouge1_recall"
        ),
        F.round(F.coalesce("rouge2_recall", F.lit(0.0)), 6).alias(
            "rouge2_recall"
        ),
        F.round(bleu, 6).alias("bleu"),
    )


def kneser_ney_bigram_scores(
    df: DataFrame,
    discount: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Kneser-Ney bigram LM scoring — the smoothing that made n-gram LMs
    competitive (Kneser & Ney 1995; the KenLM default CCNet actually
    ships): absolute-discount the bigram counts and back off to the
    CONTINUATION count — how many distinct left contexts a word follows —
    not its raw frequency. The canonical example: "Francisco" is frequent
    but follows only "San", so its continuation mass is tiny and KN
    (correctly) refuses to predict it after novel contexts, where raw-
    frequency backoff (``bigram_lm_scores``'s JM mixture) over-predicts
    it.

        p_KN(w|prev) = max(c(prev,w) − D, 0)/c(prev·)
                       + D·N1+(prev·)/c(prev·) · p_cont(w)
        p_cont(w)    = (N1+(·w) + 1) / (B + V)

    with D = ``discount``, N1+(prev·) = distinct continuations of prev,
    N1+(·w) = distinct left contexts of w, B = distinct bigram types,
    V = vocab size; the +1/(B+V) smoothing keeps p_cont positive for OOV
    words (documented deviation from the exact textbook form, which is
    undefined there). A prev with no continuation mass (final-position-
    only token) backs off entirely to p_cont. Output per document with
    ≥1 bigram: (id, n_bigrams, avg_nll), 6dp.

    Scale shape: identical to ``bigram_lm_scores`` — map-only bigram
    extraction fused with the scan; every KN statistic (bc, pc, N1+
    both ways, B, V) is an aggregate of the bigram-TYPE table, so the
    extra sophistication over JM costs two more type-sized aggregates
    and nothing at corpus grain."""
    if not 0 < discount < 1:
        raise ValueError("discount must be in (0, 1)")
    toks = df.select(F.col(id_col), tokens(text_col).alias("toks"))
    idx = F.when(
        F.size("toks") >= 2, F.sequence(F.lit(0), F.size("toks") - 2)
    ).otherwise(F.array().cast("array<int>"))
    pairs = toks.select(
        id_col,
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("toks", i + 1).alias("prev"),
                    F.element_at("toks", i + 2).alias("w"),
                ),
            )
        ).alias("pw"),
    ).select(id_col, F.col("pw.prev").alias("prev"), F.col("pw.w").alias("w"))

    bc = pairs.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("bc"))
    pstats = bc.groupBy("prev").agg(
        F.sum("bc").alias("pc"), F.count(F.lit(1)).alias("n1p")
    )
    cont = bc.groupBy("w").agg(F.count(F.lit(1)).alias("cont"))
    vocab = (
        toks.select(F.explode_outer("toks").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .agg(F.countDistinct("tok").alias("v_size"))
    )
    totals = bc.agg(F.count(F.lit(1)).alias("b_types")).crossJoin(vocab)

    d = float(discount)
    scored = (
        pairs.join(bc, on=["prev", "w"], how="left")
        .join(pstats, on="prev", how="left")
        .join(cont, on="w", how="left")
        .crossJoin(F.broadcast(totals))
    )
    p_cont = (F.coalesce(F.col("cont"), F.lit(0)) + 1).cast("double") / (
        F.col("b_types") + F.col("v_size")
    ).cast("double")
    pc = F.col("pc").cast("double")
    p_kn = F.when(
        F.coalesce(F.col("pc"), F.lit(0)) > 0,
        F.greatest(
            F.coalesce(F.col("bc"), F.lit(0)).cast("double") - F.lit(d),
            F.lit(0.0),
        )
        / pc
        + F.lit(d) * F.col("n1p").cast("double") / pc * p_cont,
    ).otherwise(p_cont)
    return (
        scored.withColumn("nll", -F.log(p_kn))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
        )
    )


def good_turing_counts(
    docs: DataFrame,
    text_col: str = "text",
    max_r: int = 10,
    ngram_n: int = 1,
) -> DataFrame:
    """Good-Turing frequency re-estimation over the corpus ``ngram_n``-
    gram counts: the count-of-counts table N_r (how many distinct types
    occur exactly r times) and the Turing-adjusted count
    r* = (r+1)·N_{r+1}/N_r — the smoothing family (Good 1953) under
    Katz backoff and the sanity check for every LM smoothing choice:
    if r* ≪ r at small r, the corpus has a heavy unseen tail and
    unsmoothed MLE counts will overfit. Row r=0 reports the unseen mass
    p0 = N_1/N (the probability the next token is novel).

    Rows r = 0..``max_r``; N_{r+1} missing → r_star NULL (the classic
    'smooth N_r before the cliff' caveat, left to the caller).
    Determinism: everything is exact-integer counts with one final
    division per row. Returns (r, n_r, r_star, gt_mass), 6dp — gt_mass
    is N_r·r/N, the raw probability mass sitting at count r.

    Scale shape: one token explode → token-grain count (map-side
    combine) → count-grain count; the output is ≤ max_r+1 rows."""
    if max_r < 1 or ngram_n < 1:
        raise ValueError("max_r and ngram_n must be >= 1")
    toks = tokens(F.lower(F.col(text_col)))
    if ngram_n == 1:
        grams = toks
    else:
        grams = F.when(
            F.size(toks) >= ngram_n, sliding_ngrams(toks, ngram_n)
        ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    tok = docs.select(F.explode(grams).alias("tk"))
    tf = tok.groupBy("tk").agg(F.count(F.lit(1)).cast("long").alias("r"))
    nr = tf.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    from pyspark import StorageLevel

    nr = nr.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        total = nr.agg(
            F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_total")
        )
        nxt = nr.select(
            (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1")
        )
        out = (
            nr.filter(F.col("r") <= int(max_r))
            .join(nxt, on="r", how="left")
            .crossJoin(F.broadcast(total))
            .select(
                "r",
                "n_r",
                F.round(
                    (F.col("r") + 1) * F.col("n_r1") / F.col("n_r"), 6
                ).alias("r_star"),
                F.round(
                    F.col("r") * F.col("n_r") / F.col("n_total"), 6
                ).alias("gt_mass"),
            )
        )
        one = nr.filter(F.col("r") == 1).select(F.col("n_r").alias("n1"))
        zero = (
            one.crossJoin(total)
            .select(
                F.lit(0).cast("long").alias("r"),
                F.lit(0).cast("long").alias("n_r"),
                F.round(F.col("n1") / F.col("n_total"), 6).alias("r_star"),
                F.round(F.col("n1") / F.col("n_total"), 6).alias("gt_mass"),
            )
        )
        result = zero.unionByName(out).orderBy("r")
        rows = result.collect()
    finally:
        nr.unpersist()
    return docs.sparkSession.createDataFrame(
        rows, "r long, n_r long, r_star double, gt_mass double"
    ).orderBy("r")


RAKE_STOPWORDS: tuple[str, ...] = ENGLISH_STOPWORDS + (
    "as", "at", "by", "an", "be", "or", "are", "with", "from", "this",
    "but", "not", "had", "has", "have", "were", "which", "their", "they",
)


def rake_keywords(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
    max_phrase_len: int = 4,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the whole corpus:
    candidate phrases are maximal stopword-free token runs (text split
    at stopwords and punctuation); each word scores degree/frequency
    (degree = Σ length of phrases containing it — co-occurrence reach;
    frequency = how often it appears in candidates), and a phrase scores
    the sum of its word scores — favoring multi-word technical phrases
    over frequent single words. The corpus-level keyword surfacer that
    needs no training, the classic complement to TF-IDF's per-doc terms.

    Phrases longer than ``max_phrase_len`` words are dropped (RAKE's
    run-on guard). Scoring is in integer micro-units: word score =
    round(1e6·deg/freq), phrase score = exact-integer sum — the usual
    cross-engine convention. Returns the ``top_n`` phrases by
    (score desc, phrase): (phrase, n_occurrences, n_words, rake_score).

    Scale shape: phrase splitting is one regex pass per document
    (map-only); word stats aggregate at word grain with map-side
    combine; the phrase-score join explodes phrases to words and
    re-aggregates at phrase grain — all fixed-width after the explode;
    TakeOrdered serves the final top-N."""
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    stop_pat = "|".join(RAKE_STOPWORDS)
    # split at punctuation OR standalone stopwords (case-insensitive)
    delim = rf"(?i)([^a-z0-9\s]+|\b(?:{stop_pat})\b)"
    phrases = docs.select(
        F.explode(
            F.split(F.regexp_replace(F.lower(F.col(text_col)), delim, "|"), r"\|")
        ).alias("p")
    ).select(F.trim(F.regexp_replace("p", r"\s+", " ")).alias("phrase"))
    phrases = phrases.filter(F.col("phrase") != "").withColumn(
        "words", F.split("phrase", " ")
    ).withColumn("n_words", F.size("words")).filter(
        F.col("n_words") <= int(max_phrase_len)
    )
    from pyspark import StorageLevel

    phrases = phrases.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        wstats = (
            phrases.select(
                F.explode("words").alias("w"), F.col("n_words").alias("plen")
            )
            .groupBy("w")
            .agg(
                F.count(F.lit(1)).cast("long").alias("freq"),
                F.sum("plen").cast("long").alias("deg"),
            )
            .withColumn(
                "wscore",
                F.round(F.lit(1e6) * F.col("deg") / F.col("freq"), 0).cast(
                    "long"
                ),
            )
        )
        pgrid = phrases.groupBy("phrase").agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("n_words").alias("n_words"),
        )
        pw = pgrid.select(
            "phrase", F.posexplode(F.split("phrase", " ")).alias("pos", "w")
        )
        scored = (
            pw.join(wstats.select("w", "wscore"), on="w")
            .groupBy("phrase")
            .agg(F.sum("wscore").cast("long").alias("sm"))
        )
        out = (
            pgrid.join(scored, on="phrase")
            .select(
                "phrase",
                "n_occurrences",
                "n_words",
                F.round(F.col("sm") / 1e6, 6).alias("rake_score"),
            )
            .orderBy(F.desc("rake_score"), F.asc("phrase"))
            .limit(int(top_n))
        )
        rows = out.collect()
    finally:
        phrases.unpersist()
    return docs.sparkSession.createDataFrame(
        rows,
        "phrase string, n_occurrences long, n_words int, rake_score double",
    ).orderBy(F.desc("rake_score"), F.asc("phrase"))
