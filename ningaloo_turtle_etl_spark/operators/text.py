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
