"""Training-data pipeline queries over ``documents`` / ``embeddings`` —
dedup, text quality and curation, embedding similarity, the trained IVF-PQ
loop and multimodal features. Every query here is oracle-checked:
MinHash/SimHash ride the cross-engine md5 hash family,
the trained IVF-PQ loop replays its whole integer-micro trajectory, and
the multimodal fake codec replays byte-for-byte in SQL; no query reads a
parameter file. Independent Python reference implementations in
tests/test_llm_ops.py additionally pin recall/planted-pair behavior.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.operators.dedup import (
    exact_dedup_semi,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from ningaloo_turtle_etl_spark.operators.similarity import cosine_topk
from ningaloo_turtle_etl_spark.operators.text import (
    with_fingerprint,
    with_lang_id,
    with_quality_score,
    with_token_counts,
    with_tokens,
)
from ningaloo_turtle_etl_spark.registry import register
from ningaloo_turtle_etl_spark.sources.tables import load_table

_NORM = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
# Raw-case tokenizer for oracles whose Spark side hashes the ORIGINAL text
# (minhash/simhash shingle and token hashes): lowercasing here would merge
# case-variant shingles the operator keeps distinct — latent divergence on
# the first capitalized document (r04 review, reproduced on a mixed-case
# corpus).
_TOKENS_RAW = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')" 
_TOKENS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"


@register(
    "dedup_exact",
    f"""
    SELECT doc_id, lang, source, n_chars
    FROM (SELECT doc_id, lang, source, n_chars,
                 ROW_NUMBER() OVER (
                     PARTITION BY substr(md5({_NORM}), 1, 16)
                     ORDER BY doc_id) AS rn
          FROM documents)
    WHERE rn = 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via the zero-body-shuffle variant: only (fingerprint, id)
    shuffles to elect keepers, then an id semi-join — document bodies stay
    map-side. (The window form in operators.dedup.exact_dedup shuffles full
    rows on the fingerprint; same answer, wrong trade at 100 TB.)"""
    docs = load_table(spark, "documents", sf_dir)
    return exact_dedup_semi(docs).select("doc_id", "lang", "source", "n_chars")


@register(
    "text_token_stats",
    rf"""
    SELECT doc_id,
           len({_TOKENS}) AS n_words,
           length(text) AS n_chars,
           greatest(
               len(list_filter(string_split_regex(
                   regexp_replace(text, '([^\w\s]|\d)', ' \1 ', 'g'), '\s+'),
                   x -> x <> '')),
               CAST(ceil(length(text) / 4.0) AS INT)
           ) AS n_tokens_est
    FROM documents
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting: whitespace words + BPE-ish subword estimate."""
    docs = load_table(spark, "documents", sf_dir)
    return with_token_counts(docs).select("doc_id", "n_words", "n_chars", "n_tokens_est")


@register(
    "text_quality_scores",
    rf"""
    WITH t AS (
        SELECT doc_id, text, {_TOKENS} AS toks, length(text) AS n_chars
        FROM documents
    ), m AS (
        SELECT doc_id, n_chars, len(toks) AS n_words,
               len(list_filter(toks, x -> x IN
                   ('the','and','of','to','a','in','is','it','that','was','for','on')))
                   AS n_stop,
               n_chars - length(regexp_replace(text, '[^\p{{L}}\p{{N}}_\s]', '', 'g')) AS n_punct
        FROM t
    )
    SELECT doc_id,
           ROUND(CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END, 6)
               AS stopword_ratio,
           ROUND(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END, 6)
               AS punct_ratio,
           ROUND(
             (CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.2 END)
           * (CASE WHEN n_words > 0 AND CAST(n_stop AS DOUBLE)/n_words > 0.05 THEN 1.0 ELSE 0.5 END)
           * (CASE WHEN n_chars > 0 AND CAST(n_punct AS DOUBLE)/n_chars < 0.2 THEN 1.0 ELSE 0.3 END)
           * (CASE WHEN n_words > 0 AND CAST(n_chars AS DOUBLE)/n_words BETWEEN 2 AND 12
                   THEN 1.0 ELSE 0.5 END), 6) AS quality_score
    FROM m
    """,
)
def text_quality_scores(spark, sf_dir):
    """Gopher/C4-style quality heuristics as one fused projection."""
    docs = load_table(spark, "documents", sf_dir)
    q = with_quality_score(docs)
    return q.select(
        "doc_id",
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )


_MARKER_SQL = {
    "en": "('the','and','of','to','a','in','is')",
    "de": "('der','die','das','und','ist','nicht','ein')",
    "fr": "('le','la','les','et','est','une','dans')",
    "es": "('el','la','los','y','es','una','en')",
    "zh": "('的','是','在','了','和','有','我')",
}
def _zh_char_score_sql() -> str:
    # Character-occurrence counts via length deltas (replace() is identical
    # cross-engine) — token-equality scoring never fires on unsegmented CJK.
    terms = " + ".join(
        f"(length(text) - length(replace(text, '{m}', '')))"
        for m in ("的", "是", "在", "了", "和", "有", "我")
    )
    return f"COALESCE({terms}, 0) AS score_zh"


_SCORES_SQL = ",\n".join(
    (
        _zh_char_score_sql()
        if k == "zh"
        else f"len(list_filter(toks, t -> t IN {v})) AS score_{k}"
    )
    for k, v in _MARKER_SQL.items()
)


@register(
    "lang_id_confusion",
    f"""
    WITH t AS (SELECT doc_id, lang, text, {_TOKENS} AS toks FROM documents),
    s AS (SELECT doc_id, lang, {_SCORES_SQL} FROM t),
    p AS (
        SELECT lang,
               CASE WHEN greatest(score_en,score_de,score_fr,score_es,score_zh) = 0
                        THEN 'und'
                    WHEN score_de = greatest(score_en,score_de,score_fr,score_es,score_zh) THEN 'de'
                    WHEN score_en = greatest(score_en,score_de,score_fr,score_es,score_zh) THEN 'en'
                    WHEN score_es = greatest(score_en,score_de,score_fr,score_es,score_zh) THEN 'es'
                    WHEN score_fr = greatest(score_en,score_de,score_fr,score_es,score_zh) THEN 'fr'
                    ELSE 'zh' END AS predicted_lang
        FROM s
    )
    SELECT lang, predicted_lang, COUNT(*) AS n FROM p GROUP BY 1, 2
    """,
)
def lang_id_confusion(spark, sf_dir):
    """Language-ID confusion matrix: labeled lang vs marker-word prediction.
    (Synthetic word-salad text makes accuracy meaningless; determinism of
    the scoring — including tie-breaks — is what the oracle pins.)"""
    docs = load_table(spark, "documents", sf_dir)
    tagged = with_lang_id(docs)
    return tagged.groupBy("lang", "predicted_lang").agg(F.count(F.lit(1)).alias("n"))


@register(
    "doc_fingerprints",
    f"SELECT doc_id, substr(md5({_NORM}), 1, 16) AS fingerprint FROM documents",
)
def doc_fingerprints(spark, sf_dir):
    """Portable content fingerprint (md5 prefix of normalized text)."""
    docs = load_table(spark, "documents", sf_dir)
    return with_fingerprint(docs).select("doc_id", "fingerprint")


@register(
    "ngram_jaccard_near_dups",
    rf"""
    WITH t AS (
        SELECT doc_id, lang, list_distinct({_TOKENS}) AS sh
        FROM documents WHERE doc_id < 150
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_cat(a.sh, b.sh))), 6) AS jaccard
    FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_cat(a.sh, b.sh))) >= 0.5
    """,
)
def ngram_jaccard_near_dups(spark, sf_dir):
    """Blocked exact n-gram Jaccard (block = lang): the verify stage of the
    filter-verify dedup pattern, run exact on a bounded candidate set."""
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 150)
    return ngram_jaccard_pairs(
        docs, block_col="lang", shingle_n=1, threshold=0.5
    )


_DOT = "list_sum(list_transform(list_zip(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), x -> x[1]*x[2]))"
_NORMSQ = "list_sum(list_transform(CAST({0}.embedding AS DOUBLE[]), x -> x*x))"


@register(
    "embedding_cosine_topk",
    f"""
    WITH pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               ROUND({_DOT} / (sqrt({_NORMSQ.format('c')}) * sqrt({_NORMSQ.format('q')})), 6)
                   AS cosine
        FROM embeddings c, embeddings q
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS INT) AS rank
        FROM pairs
    ) WHERE rank <= 3
    """,
)
def embedding_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (the exact ANN baseline): broadcast query
    set, map-side dot products in double, ranked window per query."""
    emb = load_table(spark, "embeddings", sf_dir)
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)


# --- MinHash / SimHash: full oracles via the md5 hash family ----------------
# The md5 family (operators/dedup.py) pays ONE digest per shingle/token and
# derives everything else with integer arithmetic DuckDB reproduces verbatim
# — which is what turns these two flagship dedup operators from pytest-
# trusted rows-only checks into hash-proven oracle rows.

_H60 = "('0x' || substr(md5({0}), 1, 15))::BIGINT"


def _minhash_oracle_sql(
    max_id: int = 500,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int = 500,
) -> str:
    """DuckDB SQL replicating minhash_near_dup_pairs(hash_family='md5')
    end-to-end: shingle → md5-60 hash → universal-hash signature → folded
    band buckets (with the size cap) → candidate self-join → exact Jaccard
    on the hashed shingle sets."""
    from ningaloo_turtle_etl_spark.operators.dedup import (
        FOLD_MULT,
        FOLD_MULT2,
        FOLD_P,
        MERSENNE61,
        minhash_coeffs,
    )

    rows = num_hashes // bands
    slots = ",\n               ".join(
        f"list_min(list_transform(sh, h -> ({a} * (h & 2147483647) + {b}) "
        f"% {MERSENNE61}))"
        for a, b in minhash_coeffs(num_hashes)
    )

    def fold(b: int, mult: int) -> str:
        acc = f"({b} % {FOLD_P})"
        for r in range(rows):
            acc = f"(({acc} * {mult} + (sig[{b * rows + r + 1}] & 4294967295)) % {FOLD_P})"
        return acc

    buckets = ", ".join(
        f"{fold(b, FOLD_MULT)} * 2147483648 + {fold(b, FOLD_MULT2)}"
        for b in range(bands)
    )
    return f"""
    WITH t AS (
        SELECT doc_id AS id, {_TOKENS_RAW} AS toks
        FROM documents WHERE doc_id < {max_id}
    ),
    sstr AS (
        SELECT id,
               CASE WHEN len(toks) >= {shingle_n}
                    THEN list_distinct(list_transform(
                             range(len(toks) - {shingle_n - 1}),
                             i -> array_to_string(
                                 list_slice(toks, i + 1, i + {shingle_n}), ' ')))
                    ELSE [array_to_string(toks, ' ')] END AS sh_str
        FROM t
    ),
    hashed AS (
        SELECT id,
               list_distinct(list_transform(sh_str, s -> {_H60.format('s')})) AS sh
        FROM sstr
    ),
    sig AS (
        SELECT id,
               [{slots}] AS sig
        FROM hashed
    ),
    banded AS (
        SELECT id, unnest([{buckets}]) AS bucket FROM sig
    ),
    capped AS (
        SELECT id, bucket FROM (
            SELECT id, bucket, COUNT(*) OVER (PARTITION BY bucket) AS bn
            FROM banded
        ) WHERE bn <= {max_bucket_size}
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.id < b.id
    ),
    verified AS (
        SELECT id_a, id_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
                   AS jac
        FROM cand
        JOIN hashed sa ON cand.id_a = sa.id
        JOIN hashed sb ON cand.id_b = sb.id
    )
    SELECT id_a, id_b, ROUND(jac, 6) AS jaccard
    FROM verified WHERE jac >= {threshold}
    """


def _simhash_oracle_sql(
    max_id: int = 500, max_hamming: int = 3, width: int = 60
) -> str:
    """DuckDB SQL replicating simhash_near_dup_pairs(signature='md5'):
    60-bit md5-token-hash signature by bit-majority, exact (block, value)
    integer-packed buckets, pigeonhole candidate join, bit_count(xor)
    verification."""
    blocks = max_hamming + 1
    bounds = [round(width * k / blocks) for k in range(blocks + 1)]
    w_max = max(bounds[k + 1] - bounds[k] for k in range(blocks))
    bits = " + ".join(
        f"CASE WHEN 2 * len(list_filter(hs, h -> (h >> {b}) & 1 = 1)) > len(hs) "
        f"THEN {1 << b}::BIGINT ELSE 0 END"
        for b in range(width)
    )
    buckets = ", ".join(
        f"{k * (1 << w_max)} + ((sig >> {bounds[k]}) & {(1 << (bounds[k + 1] - bounds[k])) - 1})"
        for k in range(blocks)
    )
    return f"""
    WITH t AS (
        SELECT doc_id AS id, {_TOKENS_RAW} AS toks
        FROM documents WHERE doc_id < {max_id}
    ),
    th AS (
        SELECT id, list_transform(toks, tk -> {_H60.format('tk')}) AS hs FROM t
    ),
    sig AS (
        SELECT id, COALESCE({bits}, 0) AS sig FROM th
    ),
    banded AS (
        SELECT id, sig, unnest([{buckets}]) AS bucket FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               a.sig AS sig_a, b.sig AS sig_b
        FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
    """


@register("minhash_near_dups", _minhash_oracle_sql())
def minhash_near_dups(spark, sf_dir):
    """MinHash+LSH near-dup pairs (filter-verify), md5 hash family: one
    digest per shingle, 2-universal integer slots, folded band buckets —
    the whole pipeline (including the bucket-size cap) replays in DuckDB,
    so this is a full hash row, not rows-only. Planted-pair recall and the
    xxhash64 family's parity stay pinned in tests/test_llm_ops.py."""
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 500)
    return minhash_near_dup_pairs(docs, shingle_n=3, threshold=0.5, hash_family="md5")


@register("simhash_near_dups", _simhash_oracle_sql())
def simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs, md5 family: 60-bit bit-majority signature
    over md5 token hashes, exact integer-packed pigeonhole blocks — fully
    reproduced by the DuckDB oracle (bit_count(xor) verification included)."""
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 500)
    return simhash_near_dup_pairs(docs, max_hamming=3, signature="md5")


from ningaloo_turtle_etl_spark.queries.ann_oracles import (
    pq_train_oracle_sql,
    trained_ivf_pq_oracle_sql,
)


@register(
    "corpus_clean_pipeline",
    rf"""
    WITH fp AS (
        SELECT doc_id, text, lang, n_chars,
               substr(md5({_NORM}), 1, 16) AS fingerprint
        FROM documents
    ),
    kept AS (
        SELECT f.* FROM fp f JOIN (
            SELECT fingerprint, MIN(doc_id) AS doc_id FROM fp GROUP BY fingerprint
        ) k ON f.doc_id = k.doc_id
    ),
    t AS (
        SELECT doc_id, lang, n_chars, {_TOKENS} AS toks, text FROM kept
    ),
    m AS (
        SELECT doc_id, lang, n_chars, len(toks) AS n_words,
               len(list_filter(toks, x -> x IN
                   ('the','and','of','to','a','in','is','it','that','was','for','on')))
                   AS n_stop,
               n_chars - length(regexp_replace(text, '[^\p{{L}}\p{{N}}_\s]', '', 'g')) AS n_punct
        FROM t
    )
    SELECT doc_id, lang, n_words, n_chars
    FROM m
    WHERE n_words >= 5
      AND (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 1.0 END) < 0.2
      AND lang IN ('en', 'de', 'fr', 'es')
    """,
)
def corpus_clean_pipeline(spark, sf_dir):
    """End-to-end LLM corpus prep as ONE lazy plan: exact dedup (keep lowest
    id per fingerprint) → quality gate (min words, punctuation ratio) →
    language allowlist → per-doc stats. The composition the individual
    operators exist for — each stage is the same operator the standalone
    queries register, fused by Catalyst into dedup's shuffle plus map-only
    stages."""
    docs = load_table(spark, "documents", sf_dir)
    deduped = exact_dedup_semi(docs)
    q = with_quality_score(with_token_counts(deduped))
    cleaned = q.filter(
        (F.col("n_words") >= 5)
        & (F.col("punct_ratio") < 0.2)
        & (F.col("lang").isin("en", "de", "fr", "es"))
    )
    return cleaned.select("doc_id", "lang", "n_words", "n_chars")


@register(
    "near_dup_clusters",
    rf"""
    WITH RECURSIVE t AS (
        SELECT doc_id, lang, list_distinct({_TOKENS}) AS sh
        FROM documents WHERE doc_id < 150
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_cat(a.sh, b.sh))) >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(id, anc) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.anc FROM edges e JOIN reach r ON e.dst = r.id
    )
    SELECT id AS doc_id, MIN(anc) AS component FROM reach GROUP BY id
    """,
)
def near_dup_clusters(spark, sf_dir):
    """Transitive near-dup clusters: the oracle-checked n-gram Jaccard pairs
    fed through distributed min-label propagation, checked against DuckDB's
    recursive-CTE transitive closure — component = min doc_id reachable.
    The step that turns pair-finding into actual dedup."""
    from ningaloo_turtle_etl_spark.operators.graph import connected_components

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 150)
    pairs = ngram_jaccard_pairs(docs, block_col="lang", shingle_n=1, threshold=0.5)
    comp = connected_components(pairs)
    return comp.select(F.col("id").alias("doc_id"), "component")


@register("pq_train_codebooks", pq_train_oracle_sql(4, 4, 2, 64))
def pq_train_codebooks(spark, sf_dir):
    """DISTRIBUTED PQ codebook training (`operators/quantize.py
    pq_train_codebooks_lloyd`) — the train stage of the IVF-PQ loop,
    audited on its own. Per iteration: ONE full-corpus scan evaluating
    all m·k integer distances in one Arrow batch stage, ONE
    map-side-combined aggregate to
    m·k·(dim/m+1) cells; driver state is m·k·(dim/m) ints. The audit
    row carries n_vecs + inertia from the final assignment AND the
    trained centroid's L1 norm, so the codebook values themselves are
    hash-proven; the unrolled DuckDB oracle replays the whole integer-
    micro trajectory bit-for-bit."""
    from ningaloo_turtle_etl_spark.operators.quantize import (
        pq_train_codebooks_lloyd,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    return pq_train_codebooks_lloyd(
        emb, m_subvectors=4, k_codes=4, iterations=2
    )


@register(
    "ann_trained_ivf_pq_topk",
    trained_ivf_pq_oracle_sql(
        k_cells=4,
        coarse_iterations=2,
        m=4,
        k_codes=4,
        pq_iterations=2,
        k=3,
        nprobe=2,
        shortlist=20,
        dim=64,
        query_cut=4,
    ),
)
def ann_trained_ivf_pq_topk(spark, sf_dir):
    """The CLOSED train→encode→serve ANN loop in ONE query
    (`operators/quantize.py trained_ivf_pq_topk`): distributed Lloyd
    trains the IVF coarse centroids (full-vector grain) and the PQ
    codebooks (subvector grain) on the corpus itself, then the trained
    parameters drive the three-tier serving shape — cell probe → ADC
    shortlist → exact re-rank — with no parameter file anywhere. The
    entire loop is integer micro-unit arithmetic, so the unrolled
    DuckDB oracle replays training trajectories, cell
    argmins, PQ codes, ADC tables and the exact ranks bit-for-bit; the
    recall floor vs brute-force L2 is pinned in tests/test_quantize.py."""
    from ningaloo_turtle_etl_spark.operators.quantize import (
        trained_ivf_pq_topk,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    return trained_ivf_pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 4),
        k_cells=4,
        coarse_iterations=2,
        m_subvectors=4,
        k_codes=4,
        pq_iterations=2,
        k=3,
        nprobe=2,
        shortlist=20,
    ).orderBy("query_id", "rank")


def _multimodal_oracle_sql(max_id: int = 200, bins: int = 8) -> str:
    """DuckDB SQL replicating the 'fake' codec byte-for-byte: UTF-8 bytes
    recovered from hex(encode(text)), dims from the first/last-8-byte sums,
    np.resize's cyclic fill as j → bytes[(j % nb) + 1], integer-exact mean
    and luma-histogram bins (np.histogram's [0,255]8-bin edges reduce to
    least(floor(v·8/255), 7) for integer v)."""
    f_cols = ",\n           ".join(
        f"ROUND(CASE WHEN len(flat) > 0 THEN "
        f"CAST(len(list_filter(flat, v -> least(CAST(floor(v * 8.0 / 255.0) "
        f"AS BIGINT), {bins - 1}) = {k})) AS DOUBLE) / len(flat) "
        f"ELSE 0.0 END, 6) AS f{k}"
        for k in range(bins)
    )
    return f"""
    WITH d AS (
        SELECT doc_id AS media_id, hex(encode(text)) AS hx
        FROM documents WHERE doc_id < {max_id}
    ),
    b AS (
        SELECT media_id, length(hx) // 2 AS nb,
               list_transform(range(length(hx) // 2),
                   i -> ('0x' || substr(hx, 2*i + 1, 2))::BIGINT) AS bytes
        FROM d
    ),
    dims AS (
        SELECT media_id, nb, bytes,
               CAST(CASE WHEN nb = 0 THEN 0
                    ELSE (list_sum(list_slice(bytes, 1, least(8, nb))) % 31) + 2
                    END AS BIGINT) AS width,
               CAST(CASE WHEN nb = 0 THEN 0
                    ELSE (list_sum(list_slice(bytes, nb - least(8, nb) + 1, nb))
                          % 23) + 2
                    END AS BIGINT) AS height
        FROM b
    ),
    px AS (
        SELECT media_id, nb, width, height,
               CASE WHEN nb = 0 THEN []
                    ELSE list_transform(range(width * height),
                                        j -> bytes[(j % nb) + 1]) END AS flat
        FROM dims
    )
    SELECT media_id,
           CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(nb AS BIGINT) AS n_bytes,
           ROUND(CASE WHEN len(flat) > 0
                      THEN CAST(list_sum(flat) AS DOUBLE) / len(flat)
                      ELSE 0.0 END, 6) AS mean_luma,
           {f_cols}
    FROM px
    """


@register("multimodal_image_features", _multimodal_oracle_sql())
def multimodal_image_features(spark, sf_dir):
    """Binary-column decode/feature plumbing via mapInPandas. The 'fake'
    codec derives everything deterministically from the blob bytes, so the
    whole path — Arrow batching, dims, cyclic pixel fill, luma histogram —
    now has a full DuckDB oracle row (r03 item 4). The histogram vector is
    exposed as 8 numeric columns (f0..f7) rather than a joined string:
    Java's and DuckDB's double→string rules disagree on scientific
    notation, and numeric columns compare exactly."""
    from ningaloo_turtle_etl_spark.operators.multimodal import (
        documents_as_media,
        extract_image_features,
    )

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 200)
    feats = extract_image_features(documents_as_media(docs), decoder="fake")
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_bytes",
        F.round("mean_luma", 6).alias("mean_luma"),
        *[F.round(F.col("feature")[k], 6).alias(f"f{k}") for k in range(8)],
    )


_G3 = (
    "list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)
_G2 = "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])"


@register(
    "decontaminate_corpus",
    rf"""
    WITH g AS (
        SELECT doc_id, list_distinct({_G3}) AS grams
        FROM (SELECT doc_id, {_TOKENS} AS toks FROM documents)
    ),
    bench AS (
        SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0
    ),
    bv AS (SELECT COALESCE(list(gram), []) AS bench_grams FROM bench),
    scored AS (
        SELECT doc_id, len(grams) AS n_grams,
               len(list_intersect(grams, bv.bench_grams)) AS n_contaminated
        FROM g, bv WHERE doc_id % 97 <> 0
    )
    SELECT doc_id, n_grams, n_contaminated,
           CASE WHEN n_grams > 0
                THEN CAST(n_contaminated AS DOUBLE) / CAST(n_grams AS DOUBLE)
                ELSE 0.0 END AS contam_ratio,
           CASE WHEN n_grams > 0
                THEN CAST(n_contaminated AS DOUBLE) / CAST(n_grams AS DOUBLE)
                ELSE 0.0 END >= 0.2 AS contaminated
    FROM scored
    """,
)
def decontaminate_corpus(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 97 == 0 stand in for a
    held-out eval suite; every other doc is scored by the fraction of its
    distinct word 3-grams that appear in the eval set. The corpus side never
    shuffles — the eval n-gram vocabulary broadcasts and the exploded grams
    collapse map-side (partial agg) before the doc-width shuffle."""
    from ningaloo_turtle_etl_spark.operators.curation import contamination_flags

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "text", F.lower(F.col("text"))
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_flags(corpus, bench, n=3, threshold=0.2)


@register(
    "repetition_metrics",
    rf"""
    SELECT doc_id,
           len(g2) AS n_2grams,
           CASE WHEN len(g2) > 0
                THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                           / CAST(len(g2) AS DOUBLE)
                ELSE 0.0 END AS dup_2gram_ratio,
           CASE WHEN len(g3) > 0
                THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
                           / CAST(len(g3) AS DOUBLE)
                ELSE 0.0 END AS dup_3gram_ratio
    FROM (SELECT doc_id, {_G2} AS g2, {_G3} AS g3
          FROM (SELECT doc_id, {_TOKENS} AS toks FROM documents))
    """,
)
def repetition_metrics(spark, sf_dir):
    """Gopher-style intra-doc repetition: duplicate word-2/3-gram fractions
    as one map-only projection fused with the scan — the boilerplate/spam
    drop rule of pre-training pipelines."""
    from ningaloo_turtle_etl_spark.operators.curation import with_repetition_metrics

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "text", F.lower(F.col("text"))
    )
    return with_repetition_metrics(docs).select(
        "doc_id", "n_2grams", "dup_2gram_ratio", "dup_3gram_ratio"
    )


@register(
    "training_mix_sample",
    """
    WITH per AS (
        SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS w
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_chars) AS DOUBLE) AS tw FROM documents),
    rates AS (
        SELECT lang,
               LEAST(CAST(1.0 AS DOUBLE),
                     (CAST(0.5 AS DOUBLE) *
                      CASE lang WHEN 'en' THEN CAST(0.4 AS DOUBLE)
                                WHEN 'de' THEN CAST(0.2 AS DOUBLE)
                                WHEN 'fr' THEN CAST(0.2 AS DOUBLE)
                                WHEN 'es' THEN CAST(0.2 AS DOUBLE) END)
                     * (tw / w)) AS rate
        FROM per, tot
        WHERE lang IN ('en', 'de', 'fr', 'es')
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r USING (lang)
    WHERE r.rate >= 1.0
       OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
          < lower(lpad(to_hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT)),
                       8, '0'))
    """,
)
def training_mix_sample(spark, sf_dir):
    """Deterministic training-mix rebalance: per-language char totals (tiny
    agg) set sampling rates toward a 40/20/20/20 en/de/fr/es mix within a
    half-corpus budget; docs kept iff their 32-bit md5-of-id prefix clears
    the rate threshold. No RNG — stable under retries and re-runs, which is
    what a 100 TB sampling job needs — and the corpus pass is map-only
    against broadcast rates. zh is excluded from the mix (rate-less strata
    drop)."""
    from ningaloo_turtle_etl_spark.operators.curation import training_mix_sample as mix

    docs = load_table(spark, "documents", sf_dir)
    shares = {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.2}
    return mix(docs, shares, budget_fraction=0.5).select("doc_id", "lang")


@register(
    "pii_redaction",
    r"""
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com at 10.0.'
                         || CAST(doc_id % 255 AS VARCHAR)
                         || '.7 or 555-123-4567'
                    ELSE text END AS text
        FROM documents
    )
    -- Sequential semantics (r04): each pattern counts on the text AFTER
    -- earlier patterns were redacted, so counts equal output markers.
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(r1,
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
           len(regexp_extract_all(r2,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
           substr(md5(
               regexp_replace(r2,
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g')
           ), 1, 16) AS redacted_fp
    FROM (
        SELECT doc_id, text,
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '[EMAIL]', 'g') AS r1,
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '[EMAIL]', 'g'),
                   '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g') AS r2
        FROM planted
    )
    """,
)
def pii_redaction(spark, sf_dir):
    """PII scrub over a corpus with deterministically planted emails /
    phones / IPs (every 7th doc): per-pattern counts plus a fingerprint of
    the redacted text, proving removal. Map-only regexp work, codegen'd;
    the oracle replays the same plant + RE2-compatible patterns."""
    from ningaloo_turtle_etl_spark.operators.curation import with_pii_redaction

    docs = load_table(spark, "documents", sf_dir)
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com at 10.0."),
                (F.col("doc_id") % 255).cast("string"),
                F.lit(".7 or 555-123-4567"),
            ),
        ).otherwise(F.col("text")),
    )
    out = with_pii_redaction(planted)
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.substring(F.md5("redacted_text"), 1, 16).alias("redacted_fp"),
    )


@register(
    "near_dup_dedup",
    rf"""
    WITH RECURSIVE t AS (
        SELECT doc_id, lang, n_chars, list_distinct({_TOKENS}) AS sh
        FROM documents WHERE doc_id < 150
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_cat(a.sh, b.sh))) >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(id, anc) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.anc FROM edges e JOIN reach r ON e.dst = r.id
    ),
    comp AS (SELECT id, MIN(anc) AS component FROM reach GROUP BY id)
    SELECT d.doc_id, d.lang, d.n_chars
    FROM t d LEFT JOIN comp c ON d.doc_id = c.id
    WHERE c.id IS NULL OR d.doc_id = c.component
    """,
)
def near_dup_dedup(spark, sf_dir):
    """The full near-dup dedup, end to end: Jaccard pair-finding →
    connected components → keep one representative (min doc_id) per cluster,
    singletons untouched. Completes the dedup story the pair queries start;
    the oracle replays it as a recursive-CTE transitive closure."""
    from ningaloo_turtle_etl_spark.operators.graph import cluster_representatives

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 150)
    pairs = ngram_jaccard_pairs(docs, block_col="lang", shingle_n=1, threshold=0.5)
    kept = cluster_representatives(docs, pairs)
    return kept.select("doc_id", "lang", "n_chars")


@register(
    "quality_budget_select",
    rf"""
    WITH t AS (
        SELECT doc_id, text, {_TOKENS} AS toks, length(text) AS n_chars
        FROM documents
    ), m AS (
        SELECT doc_id, n_chars, len(toks) AS n_words,
               len(list_filter(toks, x -> x IN
                   ('the','and','of','to','a','in','is','it','that','was','for','on')))
                   AS n_stop,
               n_chars - length(regexp_replace(text, '[^\p{{L}}\p{{N}}_\s]', '', 'g')) AS n_punct,
               greatest(
                   len(list_filter(string_split_regex(
                       regexp_replace(text, '([^\w\s]|\d)', ' \1 ', 'g'), '\s+'),
                       x -> x <> '')),
                   CAST(ceil(length(text) / 4.0) AS INT)
               ) AS n_tokens_est
        FROM t
    ), q AS (
        SELECT doc_id, n_tokens_est,
             (CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.2 END)
           * (CASE WHEN n_words > 0 AND CAST(n_stop AS DOUBLE)/n_words > 0.05
                   THEN 1.0 ELSE 0.5 END)
           * (CASE WHEN n_chars > 0 AND CAST(n_punct AS DOUBLE)/n_chars < 0.2
                   THEN 1.0 ELSE 0.3 END)
           * (CASE WHEN n_words > 0 AND CAST(n_chars AS DOUBLE)/n_words BETWEEN 2 AND 12
                   THEN 1.0 ELSE 0.5 END) AS quality_score
        FROM m
    ), c AS (
        SELECT doc_id, n_tokens_est, quality_score,
               SUM(n_tokens_est) OVER (ORDER BY quality_score DESC, doc_id) AS cum
        FROM q
    )
    SELECT doc_id, n_tokens_est, ROUND(quality_score, 6) AS quality_score
    FROM c WHERE cum <= 15000
    """,
)
def quality_budget_select(spark, sf_dir):
    """Token-budget curation: keep the highest-quality docs until a 15k
    estimated-token budget is spent — exact global prefix selection WITHOUT
    the single-reducer global window the oracle's ``SUM() OVER (ORDER BY)``
    implies. budget_select range-partitions on the sort key, turns
    per-partition totals (one row per partition) into broadcast prefix
    offsets, and adds a within-partition cumsum — identical answer,
    partition-parallel at any scale."""
    from ningaloo_turtle_etl_spark.operators.curation import budget_select

    docs = load_table(spark, "documents", sf_dir)
    scored = with_quality_score(with_token_counts(docs))
    sel = budget_select(
        scored,
        budget=15000,
        weight_col="n_tokens_est",
        order_col="quality_score",
        id_col="doc_id",
        num_partitions=8,
    )
    return sel.select(
        "doc_id", "n_tokens_est", F.round("quality_score", 6).alias("quality_score")
    )


@register(
    "corpus_curation_pipeline",
    rf"""
    WITH base AS (
        SELECT doc_id, lang, n_chars, lower(text) AS text FROM documents
    ),
    dedup AS (
        SELECT doc_id, lang, n_chars, text FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY substr(md5({_NORM}), 1, 16)
                ORDER BY doc_id) AS rn
            FROM base) WHERE rn = 1
    ),
    btok AS (SELECT doc_id, {_TOKENS} AS toks FROM base),
    bench AS (
        SELECT DISTINCT unnest(list_distinct({_G3})) AS gram
        FROM btok WHERE doc_id % 97 = 0
    ),
    bv AS (SELECT COALESCE(list(gram), []) AS bench_grams FROM bench),
    ctok AS (
        SELECT doc_id, lang, n_chars, {_TOKENS} AS toks
        FROM dedup WHERE doc_id % 97 <> 0
    ),
    feat AS (
        SELECT doc_id, lang, n_chars, len(toks) AS n_words,
               {_G2} AS g2, list_distinct({_G3}) AS g3d
        FROM ctok
    ),
    scored AS (
        SELECT doc_id, lang, n_chars, n_words,
               CASE WHEN len(g2) > 0
                    THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                               / CAST(len(g2) AS DOUBLE)
                    ELSE 0.0 END AS dup2,
               CASE WHEN len(g3d) > 0
                    THEN CAST(len(list_intersect(g3d, bv.bench_grams)) AS DOUBLE)
                         / CAST(len(g3d) AS DOUBLE)
                    ELSE 0.0 END AS contam
        FROM feat, bv
    ),
    gated AS (
        SELECT doc_id, lang, n_chars FROM scored
        WHERE n_words >= 5 AND dup2 < 0.5 AND contam < 0.2
    ),
    per AS (SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS w FROM gated GROUP BY lang),
    tot AS (SELECT CAST(SUM(n_chars) AS DOUBLE) AS tw FROM gated),
    rates AS (
        SELECT lang,
               LEAST(CAST(1.0 AS DOUBLE),
                     (CAST(0.5 AS DOUBLE) *
                      CASE lang WHEN 'en' THEN CAST(0.4 AS DOUBLE)
                                WHEN 'de' THEN CAST(0.2 AS DOUBLE)
                                WHEN 'fr' THEN CAST(0.2 AS DOUBLE)
                                WHEN 'es' THEN CAST(0.2 AS DOUBLE) END)
                     * (tw / w)) AS rate
        FROM per, tot
        WHERE lang IN ('en', 'de', 'fr', 'es')
    )
    SELECT g.doc_id, g.lang, g.n_chars
    FROM gated g JOIN rates r USING (lang)
    WHERE r.rate >= 1.0
       OR substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 8)
          < lower(lpad(to_hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT)),
                       8, '0'))
    """,
)
def corpus_curation_pipeline(spark, sf_dir):
    """The full curation chain as ONE lazy plan: exact dedup (zero-body
    shuffle) → repetition + length gate → benchmark-decontamination gate
    (broadcast eval vocab) → deterministic 40/20/20/20 mix sample within a
    half-corpus budget, rates derived from the GATED corpus (the plan's own
    tiny agg). Every stage is the same operator its standalone query
    registers; the oracle replays the whole composition in SQL.

    Each document is tokenized once: ``with_tokens`` puts the tokens behind
    a ``Generate``, and every operator reads that attribute. A projected
    alias would not do, because ``PushPredicateThroughNonJoin`` substitutes
    aliases into the pushed-down gates, which then re-tokenize per
    reference. The decontamination aggregate carries ``lang`` and
    ``n_chars``, so ``gated`` needs no join back, and its two consumers
    (the mix rates and the sample) share one exchange."""
    from ningaloo_turtle_etl_spark.operators.curation import (
        contamination_flags,
        training_mix_sample as mix,
        with_repetition_metrics,
    )

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "text", F.lower(F.col("text"))
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = with_tokens(exact_dedup_semi(docs).filter(F.col("doc_id") % 97 != 0))
    rep = with_repetition_metrics(
        with_token_counts(corpus, toks_col="toks"), ns=(2,), toks_col="toks"
    )
    # Map-only gates run BEFORE decontamination, so the only row-keyed
    # shuffle in the plan carries gate survivors, not the corpus.
    pre = rep.filter((F.col("n_words") >= 5) & (F.col("dup_2gram_ratio") < 0.5))
    gated = (
        contamination_flags(
            pre, bench, n=3, carry=("lang", "n_chars"), toks_col="toks"
        )
        .filter(F.col("contam_ratio") < 0.2)
        .select("doc_id", "lang", "n_chars")
    )
    shares = {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.2}
    return mix(gated, shares, budget_fraction=0.5).select("doc_id", "lang", "n_chars")


@register(
    "text_token_quality",
    rf"""
    WITH t AS (
        SELECT doc_id, text, {_TOKENS} AS toks, length(text) AS n_chars
        FROM documents
    ), m AS (
        SELECT doc_id, text, n_chars, len(toks) AS n_words,
               len(list_filter(toks, x -> x IN
                   ('the','and','of','to','a','in','is','it','that','was','for','on')))
                   AS n_stop,
               n_chars - length(regexp_replace(text, '[^\p{{L}}\p{{N}}_\s]', '', 'g')) AS n_punct
        FROM t
    )
    SELECT doc_id, n_words, n_chars,
           greatest(
               len(list_filter(string_split_regex(
                   regexp_replace(text, '([^\w\s]|\d)', ' \1 ', 'g'), '\s+'),
                   x -> x <> '')),
               CAST(ceil(length(text) / 4.0) AS INT)
           ) AS n_tokens_est,
           ROUND(CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END, 6)
               AS stopword_ratio,
           ROUND(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END, 6)
               AS punct_ratio,
           ROUND(
             (CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.2 END)
           * (CASE WHEN n_words > 0 AND CAST(n_stop AS DOUBLE)/n_words > 0.05 THEN 1.0 ELSE 0.5 END)
           * (CASE WHEN n_chars > 0 AND CAST(n_punct AS DOUBLE)/n_chars < 0.2 THEN 1.0 ELSE 0.3 END)
           * (CASE WHEN n_words > 0 AND CAST(n_chars AS DOUBLE)/n_words BETWEEN 2 AND 12
                   THEN 1.0 ELSE 0.5 END), 6) AS quality_score
    FROM m
    """,
)
def text_token_quality(spark, sf_dir):
    """Token counting + Gopher/C4-style quality heuristics fused into one
    map-only projection (driver-window consolidation of text_token_stats +
    text_quality_scores, which remain registered for the pytest sweep).
    Whitespace words, BPE-ish subword estimate, stopword/punct ratios and
    the composite quality gate — all pure Catalyst columns."""
    docs = load_table(spark, "documents", sf_dir)
    q = with_quality_score(with_token_counts(docs))
    return q.select(
        "doc_id",
        "n_words",
        "n_chars",
        "n_tokens_est",
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )


@register(
    "dedup_audit",
    rf"""
    WITH RECURSIVE t AS (
        SELECT doc_id, lang, n_chars, list_distinct({_TOKENS}) AS sh
        FROM documents WHERE doc_id < 150
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_cat(a.sh, b.sh))) >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(id, anc) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.anc FROM edges e JOIN reach r ON e.dst = r.id
    ),
    comp AS (SELECT id, MIN(anc) AS component FROM reach GROUP BY id)
    SELECT c.component,
           COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars_total,
           CAST(SUM(CASE WHEN d.doc_id = c.component THEN 0 ELSE d.n_chars END)
                AS BIGINT) AS chars_removed
    FROM comp c JOIN t d ON c.id = d.doc_id
    GROUP BY c.component
    """,
)
def dedup_audit(spark, sf_dir):
    """Dedup observability: per near-dup cluster, how many docs collapse and
    how many chars the collapse removes — the audit table a curation run
    ships alongside its output (what got deleted and why is the first
    question asked of any dedup job)."""
    from ningaloo_turtle_etl_spark.operators.graph import connected_components

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 150)
    pairs = ngram_jaccard_pairs(docs, block_col="lang", shingle_n=1, threshold=0.5)
    comp = connected_components(pairs)
    labeled = comp.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), on="id"
    )
    return labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
        F.sum(
            F.when(F.col("id") == F.col("component"), 0).otherwise(F.col("n_chars"))
        ).alias("chars_removed"),
    )


@register(
    "doc_chunks",
    rf"""
    WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
    nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    e AS (
        SELECT doc_id, toks, n,
               unnest(range(0, CAST(ceil(n / 64.0) AS INT))) AS chunk_id
        FROM nz
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           len(list_slice(toks, chunk_id * 64 + 1,
                          least((chunk_id + 1) * 64, n))) AS n_chunk_tokens,
           substr(md5(array_to_string(
               list_slice(toks, chunk_id * 64 + 1,
                          least((chunk_id + 1) * 64, n)), ' ')), 1, 16)
               AS chunk_fp
    FROM e
    """,
)
def doc_chunks(spark, sf_dir):
    """Context-window chunking: each doc split into consecutive ≤64-token
    chunks (one row per chunk, fingerprint instead of text so the harness
    hashes compactly) — the pre-training sharding step. Map-only:
    sequence+slice inside one projection, no shuffle."""
    from ningaloo_turtle_etl_spark.operators.curation import chunk_documents

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "text", F.lower(F.col("text"))
    )
    ch = chunk_documents(docs, max_tokens=64)
    return ch.select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        F.substring(F.md5("chunk_text"), 1, 16).alias("chunk_fp"),
    )


@register(
    "sequence_packing",
    """
    WITH b AS (
        SELECT doc_id, n_chars,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS INTEGER) % 16 AS bucket
        FROM documents
    ),
    c AS (
        SELECT doc_id, bucket, n_chars,
               SUM(n_chars) OVER (PARTITION BY bucket ORDER BY doc_id) AS cum
        FROM b
    )
    SELECT doc_id, bucket,
           CAST(floor((cum - n_chars) / 2000.0) AS INT) AS bin_id,
           CAST(cum - n_chars AS BIGINT) AS bin_pos
    FROM c
    """,
)
def sequence_packing(spark, sf_dir):
    """Deterministic distributed sequence packing: docs hash into 16
    buckets (window partitions — no single-partition window), a
    within-bucket cumsum bins them at ~2000-char capacity boundaries.
    The batch-building step of training prep, reproducible under retries;
    the straddle-overflow rule is pinned in tests/test_curation.py."""
    from ningaloo_turtle_etl_spark.operators.curation import pack_chunks

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    packed = pack_chunks(docs, "n_chars", bin_capacity=2000, num_buckets=16)
    return packed.select("doc_id", "bucket", "bin_id", "bin_pos")


@register(
    "packed_chunk_batches",
    rf"""
    WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
    nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    e AS (
        SELECT doc_id, toks, n,
               unnest(range(0, CAST(ceil(n / 64.0) AS INT))) AS chunk_id
        FROM nz
    ),
    ch AS (
        SELECT doc_id * 16 + chunk_id AS chunk_key,
               len(list_slice(toks, chunk_id * 64 + 1,
                              least((chunk_id + 1) * 64, n))) AS n_chunk_tokens
        FROM e
    ),
    b AS (
        SELECT chunk_key, n_chunk_tokens,
               CAST(concat('0x', substr(md5(CAST(chunk_key AS VARCHAR)), 1, 4))
                    AS INTEGER) % 16 AS bucket
        FROM ch
    ),
    c AS (
        SELECT chunk_key, n_chunk_tokens, bucket,
               SUM(n_chunk_tokens) OVER (PARTITION BY bucket ORDER BY chunk_key)
                   AS cum
        FROM b
    )
    SELECT chunk_key, bucket,
           CAST(floor((cum - n_chunk_tokens) / 256.0) AS INT) AS bin_id,
           n_chunk_tokens
    FROM c
    """,
)
def packed_chunk_batches(spark, sf_dir):
    """Chunk → pack, composed: docs split into ≤64-token chunks, chunks
    packed into ~256-token training batches (md5-bucketed cumsum bins).
    The full batch-building path of LLM data prep as one lazy plan — the
    only shuffle is the 16-partition window for binning."""
    from ningaloo_turtle_etl_spark.operators.curation import (
        chunk_documents,
        pack_chunks,
    )

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "text", F.lower(F.col("text"))
    )
    ch = chunk_documents(docs, max_tokens=64).select(
        (F.col("doc_id") * 16 + F.col("chunk_id")).alias("chunk_key"),
        "n_chunk_tokens",
    )
    packed = pack_chunks(
        ch, "n_chunk_tokens", bin_capacity=256, id_col="chunk_key", num_buckets=16
    )
    return packed.select("chunk_key", "bucket", "bin_id", "n_chunk_tokens")


@register(
    "chunk_dedup",
    rf"""
    WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
    nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    e AS (
        SELECT doc_id, toks, n,
               unnest(range(0, CAST(ceil(n / 32.0) AS INT))) AS chunk_id
        FROM nz
    ),
    ch AS (
        SELECT doc_id * 64 + chunk_id AS chunk_key,
               md5(array_to_string(
                   list_slice(toks, chunk_id * 32 + 1,
                              least((chunk_id + 1) * 32, n)), ' ')) AS fp
        FROM e
    )
    SELECT chunk_key, substr(fp, 1, 16) AS chunk_fp
    FROM (SELECT chunk_key, fp,
                 ROW_NUMBER() OVER (PARTITION BY fp ORDER BY chunk_key) AS rn
          FROM ch)
    WHERE rn = 1
    """,
)
def chunk_dedup(spark, sf_dir):
    """Chunk-granularity exact dedup: identical ≤32-token chunks collapse to
    the lowest chunk_key — the boilerplate-paragraph form of dedup that
    doc-level fingerprints miss (repeated headers/footers across distinct
    docs). Same zero-body-shuffle shape as dedup_exact: only
    (fingerprint, key) pairs shuffle to elect keepers."""
    from ningaloo_turtle_etl_spark.operators.curation import chunk_documents
    from pyspark.sql.window import Window

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "text", F.lower(F.col("text"))
    )
    ch = chunk_documents(docs, max_tokens=32).select(
        (F.col("doc_id") * 64 + F.col("chunk_id")).alias("chunk_key"),
        F.md5("chunk_text").alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("chunk_key")
    kept = ch.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return kept.select("chunk_key", F.substring("fp", 1, 16).alias("chunk_fp"))


@register(
    "embedding_norm_stats",
    """
    WITH n AS (
        SELECT vec_id,
               sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                            x -> x * x))) AS l2
        FROM embeddings
    )
    SELECT COUNT(*) AS n_vectors,
           ROUND(MIN(l2), 6) AS min_norm,
           ROUND(MAX(l2), 6) AS max_norm,
           ROUND(AVG(l2), 6) AS avg_norm,
           CAST(SUM(CASE WHEN l2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
    FROM n
    """,
)
def embedding_norm_stats(spark, sf_dir):
    """Embedding-column hygiene profile: L2-norm distribution + zero-vector
    count — the sanity pass before any cosine math (zero vectors NaN-poison
    cosine similarity). Norms via a JVM-side F.aggregate fold over the float
    array; one map pass + one scalar agg."""
    emb = load_table(spark, "embeddings", sf_dir)
    l2 = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    n = emb.select(l2.alias("l2"))
    return n.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.min("l2"), 6).alias("min_norm"),
        F.round(F.max("l2"), 6).alias("max_norm"),
        F.round(F.avg("l2"), 6).alias("avg_norm"),
        F.sum(F.when(F.col("l2") == 0, 1).otherwise(0)).alias("n_zero"),
    )


@register(
    "incremental_dedup",
    f"""
    WITH fp AS (
        SELECT doc_id, lang, source, n_chars,
               substr(md5({_NORM}), 1, 16) AS fingerprint
        FROM documents
    ),
    seen AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 5 <> 4),
    fresh AS (
        SELECT n.* FROM fp n LEFT JOIN seen s USING (fingerprint)
        WHERE n.doc_id % 5 = 4 AND s.fingerprint IS NULL
    )
    SELECT doc_id, lang, source, n_chars
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY fingerprint ORDER BY doc_id) AS rn FROM fresh)
    WHERE rn = 1
    """,
)
def incremental_dedup(spark, sf_dir):
    """Incremental ingestion dedup: docs with doc_id % 5 == 4 stand in for
    today's crawl increment, the rest for the existing corpus snapshot (as
    a fingerprint set). The increment is deduped against the snapshot by
    fingerprint anti-join, then within itself — snapshot bodies are never
    read, so per-day cost scales with the increment, not the corpus."""
    from ningaloo_turtle_etl_spark.operators.dedup import incremental_exact_dedup
    from ningaloo_turtle_etl_spark.operators.text import with_fingerprint

    docs = load_table(spark, "documents", sf_dir)
    new_batch = docs.filter(F.col("doc_id") % 5 == 4)
    snapshot_fps = with_fingerprint(
        docs.filter(F.col("doc_id") % 5 != 4)
    ).select("fingerprint")
    out = incremental_exact_dedup(new_batch, snapshot_fps)
    return out.select("doc_id", "lang", "source", "n_chars")


@register(
    "duplicate_passage_removal",
    r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
        FROM documents
    ),
    pas AS (
        SELECT doc_id, idx,
               array_to_string(list_slice(t, idx*20 + 1, idx*20 + 20), ' ')
                   AS passage
        FROM (
            SELECT doc_id, t,
                   unnest(range(CAST(ceil(len(t)/20.0) AS BIGINT))) AS idx
            FROM toks
        )
    ),
    marked AS (
        SELECT doc_id, idx, passage,
               ROW_NUMBER() OVER (PARTITION BY passage ORDER BY doc_id, idx)
                   AS rn
        FROM pas
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_passages,
               CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_removed,
               COALESCE(
                   STRING_AGG(CASE WHEN rn = 1 THEN passage END, ' '
                              ORDER BY idx), '') AS cleaned_text
        FROM marked GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_passages, 0) AS n_passages,
           COALESCE(p.n_removed, 0) AS n_removed,
           COALESCE(p.cleaned_text, '') AS cleaned_text
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def duplicate_passage_removal(spark, sf_dir):
    """Cross-document duplicate-passage removal (Lee et al. 2022's exact
    substring dedup at passage granularity): global first occurrence of
    every 20-token passage survives, later occurrences are cut, documents
    are reconstructed from their surviving passages. The oracle states the
    identical policy relationally (ROW_NUMBER over passage groups)."""
    from ningaloo_turtle_etl_spark.operators.dedup import (
        duplicate_passage_removal as dpr,
    )

    docs = load_table(spark, "documents", sf_dir)
    return dpr(docs, passage_tokens=20)


@register(
    "temperature_mix_sample",
    """
    WITH per AS (
        SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS w
        FROM documents GROUP BY lang
    ),
    p2 AS (SELECT lang, w, power(w, 0.5) AS pw FROM per),
    tot AS (SELECT SUM(w) AS tw, SUM(pw) AS tpw FROM p2),
    rates AS (
        SELECT lang,
               LEAST(CAST(1.0 AS DOUBLE),
                     (CAST(0.5 AS DOUBLE) * (pw / tpw)) * (tw / w)) AS rate
        FROM p2, tot
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r USING (lang)
    WHERE r.rate >= 1.0
       OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
          < lower(lpad(to_hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT)),
                       8, '0'))
    """,
)
def temperature_mix_sample(spark, sf_dir):
    """Temperature-flattened mix at T=2 (exponent 0.5 = sqrt, IEEE-exact on
    both engines) over language strata within a half-corpus budget — the
    no-hand-targets counterpart of training_mix_sample; same deterministic
    md5-of-id keep rule."""
    from ningaloo_turtle_etl_spark.operators.curation import (
        temperature_mix_sample as tms,
    )

    docs = load_table(spark, "documents", sf_dir)
    return tms(docs, temperature=2.0, budget_fraction=0.5).select("doc_id", "lang")


@register(
    "gopher_repetition_stats",
    rf"""
    WITH t AS (
        SELECT doc_id, {_TOKENS} AS toks FROM documents
    ),
    b AS (
        SELECT doc_id,
               length(array_to_string(toks, ' ')) AS n_chars,
               len(toks) AS n_words,
               len(list_distinct(toks)) AS n_distinct,
               toks
        FROM t
    ),
    g AS (
        SELECT doc_id, nn,
               unnest(CASE WHEN len(toks) >= nn THEN
                   list_transform(range(1, len(toks) - nn + 2),
                                  i -> array_to_string(toks[i:i+nn-1], ' '))
               ELSE [] END) AS gram
        FROM t, (SELECT unnest([2, 3]) AS nn)
    ),
    c AS (SELECT doc_id, nn, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
    r AS (
        SELECT doc_id, nn, gram, c,
               row_number() OVER (PARTITION BY doc_id, nn
                                  ORDER BY c DESC, gram ASC) AS rk
        FROM c
    ),
    p AS (
        SELECT doc_id,
               MAX(CASE WHEN nn = 2 AND rk = 1 THEN c * length(gram) END) AS t2,
               MAX(CASE WHEN nn = 3 AND rk = 1 THEN c * length(gram) END) AS t3,
               SUM(CASE WHEN nn = 2 AND c > 1 THEN c * length(gram) ELSE 0 END) AS d2,
               SUM(CASE WHEN nn = 3 AND c > 1 THEN c * length(gram) ELSE 0 END) AS d3
        FROM r GROUP BY 1
    ),
    f AS (
        SELECT b.doc_id,
               ROUND(CASE WHEN n_chars > 0
                     THEN CAST(COALESCE(t2, 0) AS DOUBLE) / n_chars
                     ELSE 0.0 END, 6) AS top_2gram_char_frac,
               ROUND(CASE WHEN n_chars > 0
                     THEN CAST(COALESCE(t3, 0) AS DOUBLE) / n_chars
                     ELSE 0.0 END, 6) AS top_3gram_char_frac,
               ROUND(CASE WHEN n_chars > 0
                     THEN CAST(COALESCE(d2, 0) AS DOUBLE) / n_chars
                     ELSE 0.0 END, 6) AS dup_2gram_char_frac,
               ROUND(CASE WHEN n_chars > 0
                     THEN CAST(COALESCE(d3, 0) AS DOUBLE) / n_chars
                     ELSE 0.0 END, 6) AS dup_3gram_char_frac,
               ROUND(CASE WHEN n_words > 0
                     THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_words
                     ELSE 0.0 END, 6) AS repeated_word_frac
        FROM b LEFT JOIN p ON b.doc_id = p.doc_id
    )
    SELECT *,
           CASE WHEN top_2gram_char_frac <= 0.20
                 AND top_3gram_char_frac <= 0.18
                 AND dup_3gram_char_frac <= 0.60
                THEN 1 ELSE 0 END AS repetition_ok
    FROM f
    """,
)
def q_gopher_repetition_stats(spark, sf_dir):
    """Character-weighted Gopher repetition rules (Rae et al. 2021 A1):
    top-2/3-gram char fractions, duplicated-2/3-gram char fractions,
    repeated-word fraction, and the composite keep flag. Complements
    `repetition_metrics` (type-level duplicate ratios) with the
    occurrence×length-weighted form the paper actually thresholds."""
    from ningaloo_turtle_etl_spark.operators.curation import (
        gopher_repetition_stats,
    )

    docs = load_table(spark, "documents", sf_dir)
    return gopher_repetition_stats(docs)


_SUBSTR_RANKED_CTE = """
    t AS (SELECT doc_id, coalesce(text, '') AS t,
                 length(coalesce(text, '')) AS len
          FROM documents),
    w AS (
        SELECT doc_id, pos, substr(md5(substr(t, pos, 40)), 1, 16) AS h
        FROM (SELECT doc_id, t, len,
                     unnest(range(1, len - 40 + 2)) AS pos
              FROM t WHERE len >= 40)
    ),
    r AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
               COUNT(*) OVER (PARTITION BY h) AS cnt
        FROM w
    )
"""


@register(
    "substring_dup_stats",
    f"""
    WITH {_SUBSTR_RANKED_CTE},
    s AS (
        SELECT doc_id, pos, rn, cnt,
               MAX(CASE WHEN cnt >= 2 THEN pos + 40 END) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS dpe,
               MAX(CASE WHEN rn >= 2 THEN pos + 40 END) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rpe
        FROM r
    ),
    p AS (
        SELECT doc_id,
               COUNT(*) AS n_windows,
               SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS n_dup,
               SUM(CASE WHEN rn >= 2 THEN 1 ELSE 0 END) AS n_rem,
               SUM(CASE WHEN cnt >= 2 THEN GREATEST(0, pos + 40
                   - GREATEST(pos, COALESCE(dpe, pos))) ELSE 0 END) AS dupc,
               SUM(CASE WHEN rn >= 2 THEN GREATEST(0, pos + 40
                   - GREATEST(pos, COALESCE(rpe, pos))) ELSE 0 END) AS remc
        FROM s GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(n_rem, 0) AS BIGINT) AS n_removable_windows,
           ROUND(CASE WHEN len > 0
                 THEN CAST(COALESCE(dupc, 0) AS DOUBLE) / len
                 ELSE 0.0 END, 6) AS dup_char_frac,
           ROUND(CASE WHEN len > 0
                 THEN CAST(COALESCE(remc, 0) AS DOUBLE) / len
                 ELSE 0.0 END, 6) AS removable_char_frac
    FROM t LEFT JOIN p USING (doc_id)
    """,
)
def q_substring_dup_stats(spark, sf_dir):
    """Character-granularity exact-substring duplication profile (Lee et
    al. 2022 measured via overlapping hashed 40-char windows): per-doc
    duplicated / removable window counts and interval-union char
    fractions. Detects any duplicated substring >= 40 chars, including
    ones that straddle token-passage boundaries."""
    from ningaloo_turtle_etl_spark.operators.dedup import substring_dup_stats

    docs = load_table(spark, "documents", sf_dir)
    out = substring_dup_stats(docs, k=40, hash_family="md5")
    return out.select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
        F.col("n_removable_windows").cast("long").alias(
            "n_removable_windows"
        ),
        "dup_char_frac",
        "removable_char_frac",
    )


@register(
    "substring_span_removal",
    f"""
    WITH {_SUBSTR_RANKED_CTE},
    rm AS (SELECT doc_id, pos FROM r WHERE rn >= 2),
    g AS (
        SELECT doc_id,
               COALESCE(MAX(pos + 40) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   1) AS gs,
               pos AS ge
        FROM rm
    ),
    segs AS (
        SELECT doc_id, gs, ge FROM g WHERE ge > gs
        UNION ALL
        SELECT m.doc_id, m.mx AS gs, t.len + 1 AS ge
        FROM (SELECT doc_id, MAX(pos + 40) AS mx FROM rm GROUP BY doc_id) m
        JOIN t USING (doc_id)
        WHERE t.len + 1 > m.mx
    ),
    reb AS (
        SELECT rd.doc_id, COALESCE(sg.txt, '') AS cleaned
        FROM (SELECT DISTINCT doc_id FROM rm) rd
        LEFT JOIN (
            SELECT s.doc_id,
                   string_agg(substr(t.t, s.gs, s.ge - s.gs), ''
                              ORDER BY s.gs) AS txt
            FROM segs s JOIN t USING (doc_id)
            GROUP BY s.doc_id
        ) sg USING (doc_id)
    )
    SELECT t.doc_id,
           CAST(t.len AS BIGINT) AS n_chars,
           CAST(t.len - length(COALESCE(reb.cleaned, t.t)) AS BIGINT)
               AS n_removed_chars,
           COALESCE(reb.cleaned, t.t) AS cleaned_text
    FROM t LEFT JOIN reb USING (doc_id)
    """,
)
def q_substring_span_removal(spark, sf_dir):
    """Exact-substring span removal: corpus-wide first occurrence of every
    40-char window survives, later occurrences' spans are cut (merged when
    overlapping) and each doc is rebuilt from the surviving characters.
    The char-granularity sibling of duplicate_passage_removal."""
    from ningaloo_turtle_etl_spark.operators.dedup import (
        substring_span_removal,
    )

    docs = load_table(spark, "documents", sf_dir)
    out = substring_span_removal(docs, k=40, hash_family="md5")
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_removed_chars").cast("long").alias("n_removed_chars"),
        "cleaned_text",
    )


# Ed-Join prefix-filtered edit-distance pairs over customer names — shared
# between the pair query and the entity-resolution clustering on top of it.
_EDIT_CTES = """
    s AS (SELECT c_custkey AS id, c_name AS s FROM customer),
    -- q-1 sentinel chars pad both ends (prefix-filter completeness for
    -- strings near length q; see edit_similarity_self_join)
    sp AS (SELECT id, repeat(chr(2), 2) || s || repeat(chr(2), 2) AS ps
           FROM s),
    grams AS (
        SELECT id, unnest(list_distinct(list_transform(
            range(1, length(ps) - 3 + 2),
            i -> substr(ps, i, 3)))) AS gram
        FROM sp
    ),
    freq AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS gf
             FROM grams GROUP BY gram),
    prefix AS (
        SELECT id, gram FROM (
            SELECT g.id, g.gram,
                   row_number() OVER (PARTITION BY g.id
                                      ORDER BY f.gf ASC, g.gram ASC) AS rn
            FROM grams g JOIN freq f USING (gram))
        WHERE rn <= 4
    ),
    cand AS (
        SELECT DISTINCT a.id AS ida, b.id AS idb
        FROM prefix a JOIN prefix b USING (gram)
        WHERE a.id < b.id
    ),
    vpairs AS (
        SELECT c.ida AS id_a, c.idb AS id_b,
               CAST(levenshtein(x.s, y.s) AS BIGINT) AS edit_distance
        FROM cand c
        JOIN s x ON c.ida = x.id
        JOIN s y ON c.idb = y.id
        WHERE abs(length(x.s) - length(y.s)) <= 1
          AND levenshtein(x.s, y.s) <= 1
    )
"""


@register(
    "edit_similarity_pairs",
    f"""
    WITH {_EDIT_CTES}
    SELECT id_a, id_b, edit_distance FROM vpairs
    """,
)
def edit_similarity_pairs(spark, sf_dir):
    """Similarity self-join over customer names: every pair within
    Levenshtein distance 1, via Ed-Join prefix filtering (rarest
    q·k+1 grams elect candidates; exact levenshtein verifies) — the
    record-linkage primitive, never materializing all-pairs."""
    from ningaloo_turtle_etl_spark.operators.relational import (
        edit_similarity_self_join,
    )

    cust = load_table(spark, "customer", sf_dir)
    return edit_similarity_self_join(
        cust, text_col="c_name", id_col="c_custkey", max_edit=1, q=3
    )


def _entity_resolution_oracle_sql(rounds: int = 16) -> str:
    """Unrolled POINTER-JUMPING connected components over the Ed-Join
    match edges — min-of-neighbors then label ← label(label) per round,
    exactly the Spark operator's algorithm (`operators/graph.py
    connected_components`), so after convergence the labels are
    identical by determinism; ``rounds`` pointer-jumped rounds cover
    component diameter ~2^rounds, far past any real name graph.

    Replaces the r3 RECURSIVE transitive-closure form, which
    materialized |cluster|² reach rows — at sf0.1 the synthetic
    customer names ('Customer#000000123') are all within edit-1 digit
    flips of each other, the graph collapses toward ONE 15k-member
    cluster, and the closure hit 225M rows / 33 GB / ~an hour in
    DuckDB. Pointer jumping is node-grain per round: seconds at any
    sf (the node-grain scale rule the Spark side already follows,
    applied to the oracle)."""
    parts = [
        f"""
    {_EDIT_CTES},
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM vpairs
        UNION
        SELECT id_b, id_a FROM vpairs
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
    l0 AS (SELECT id, id AS lbl FROM nodes)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f""",
    m{t} AS MATERIALIZED (
        SELECT n.id,
               LEAST(l.lbl, COALESCE(nm.nmin, l.lbl)) AS mid
        FROM nodes n
        JOIN l{t - 1} l ON n.id = l.id
        LEFT JOIN (
            SELECT e.src AS id, MIN(l.lbl) AS nmin
            FROM edges e JOIN l{t - 1} l ON e.dst = l.id
            GROUP BY e.src
        ) nm ON n.id = nm.id
    ),
    l{t} AS MATERIALIZED (
        SELECT a.id, COALESCE(b.mid, a.mid) AS lbl
        FROM m{t} a LEFT JOIN m{t} b ON a.mid = b.id
    )"""
        )
    return (
        "WITH "
        + "".join(parts)
        + f""",
    comp AS (SELECT id, lbl AS cluster_id FROM l{rounds}),
    sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM comp GROUP BY 1
    )
    SELECT c.cluster_id, c.id AS member_id, n.c_name AS member_name,
           r.c_name AS rep_name, sz.n_members
    FROM comp c
    JOIN customer n ON n.c_custkey = c.id
    JOIN customer r ON r.c_custkey = c.cluster_id
    JOIN sizes sz ON sz.cluster_id = c.cluster_id
    ORDER BY c.cluster_id, member_id"""
    )


@register("entity_resolution_clusters", _entity_resolution_oracle_sql(16))
def entity_resolution_clusters(spark, sf_dir):
    """Entity resolution end-to-end: Ed-Join edit-distance blocking over
    customer names (`operators/relational.py edit_similarity_self_join`) →
    pointer-jumping connected components (`operators/graph.py`) →
    canonical-record election (the cluster's min id is its CC label, so
    the representative lookup is one broadcast-sized join, no extra
    election pass). The record-linkage pipeline a warehouse dedupe runs:
    block, verify, cluster, canonicalize — all-pairs never materializes,
    and only matched entities (clusters of >= 2) appear."""
    from ningaloo_turtle_etl_spark.operators.graph import connected_components
    from ningaloo_turtle_etl_spark.operators.relational import (
        edit_similarity_self_join,
    )

    cust = load_table(spark, "customer", sf_dir)
    pairs = edit_similarity_self_join(
        cust, text_col="c_name", id_col="c_custkey", max_edit=1, q=3
    )
    comp = connected_components(pairs).select(
        F.col("id").alias("member_id"), F.col("component").alias("cluster_id")
    )
    names = cust.select(
        F.col("c_custkey").alias("member_id"), F.col("c_name").alias("member_name")
    )
    reps = cust.select(
        F.col("c_custkey").alias("cluster_id"), F.col("c_name").alias("rep_name")
    )
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        comp.join(names, on="member_id")
        .join(F.broadcast(reps), on="cluster_id")
        .join(F.broadcast(sizes), on="cluster_id")
        .select("cluster_id", "member_id", "member_name", "rep_name", "n_members")
        .orderBy("cluster_id", "member_id")
    )


@register(
    "containment_near_dups",
    rf"""
    WITH t AS (
        SELECT doc_id, lang, list_distinct({_TOKENS}) AS sh
        FROM documents WHERE doc_id < 150
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(a.sh), 6) AS containment
    FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id <> b.doc_id
    WHERE len(a.sh) > 0
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.9
    """,
)
def containment_near_dups(spark, sf_dir):
    """Asymmetric shingle-containment pairs (|A∩B|/|A| >= 0.9, block =
    lang): the subset-duplicate detector — a doc quoted inside a larger
    one has high containment but LOW Jaccard, so the symmetric passes
    (`ngram_jaccard_near_dups`, MinHash) structurally miss it
    (`operators/dedup.py ngram_containment_pairs`). Directed: a row says
    id_a is covered by id_b; dedup policy drops the contained side."""
    from ningaloo_turtle_etl_spark.operators.dedup import ngram_containment_pairs

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 150)
    return ngram_containment_pairs(
        docs, block_col="lang", shingle_n=1, threshold=0.9
    )


@register(
    "readability_scores",
    r"""
    WITH f AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> x <> '')) AS n_words,
             greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS n_syllables
      FROM documents
    )
    SELECT doc_id, CAST(n_words AS INT) AS n_words,
           CAST(n_sentences AS INT) AS n_sentences,
           CAST(n_syllables AS INT) AS n_syllables,
           CASE WHEN n_words > 0 THEN
             ROUND(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                   - 84.6 * (n_syllables * 1.0 / n_words), 4)
           END AS flesch
    FROM f ORDER BY doc_id
    """,
)
def readability_scores(spark, sf_dir):
    """Flesch reading-ease over the corpus (`operators/text.py
    readability_scores`): sentence-length and syllable-density signals
    from three map-only regex passes — the readability axis the ratio
    heuristics in text_quality_scores don't cover."""
    from ningaloo_turtle_etl_spark.operators.text import readability_scores

    docs = load_table(spark, "documents", sf_dir)
    return readability_scores(docs).select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "flesch"
    ).orderBy("doc_id")


@register(
    "soft_dedup_weights",
    f"""
    SELECT doc_id,
           CAST(COUNT(*) OVER (
               PARTITION BY substr(md5({_NORM}), 1, 16)) AS BIGINT)
               AS cluster_size,
           ROUND(1.0 / COUNT(*) OVER (
               PARTITION BY substr(md5({_NORM}), 1, 16)), 6) AS weight
    FROM documents
    """,
)
def q_soft_dedup_weights(spark, sf_dir):
    """Down-weighting dedup (soft counterpart of dedup_exact): every copy
    survives with training weight 1/cluster_size, so each exact-duplicate
    cluster contributes one document's worth of gradient mass. Only
    (fingerprint, id) shuffles; bodies stay map-side."""
    from ningaloo_turtle_etl_spark.operators.dedup import soft_dedup_weights

    docs = load_table(spark, "documents", sf_dir)
    return soft_dedup_weights(docs)


@register(
    "length_bucket_batches",
    f"""
    WITH sized AS (
        SELECT doc_id, len({_TOKENS_RAW}) AS l,
               CASE WHEN len({_TOKENS_RAW}) <= 16 THEN 16
                    WHEN len({_TOKENS_RAW}) <= 32 THEN 32
                    WHEN len({_TOKENS_RAW}) <= 64 THEN 64
                    WHEN len({_TOKENS_RAW}) <= 128 THEN 128
                    WHEN len({_TOKENS_RAW}) <= 256 THEN 256
                    WHEN len({_TOKENS_RAW}) <= 512 THEN 512
                    ELSE 1024 END AS bucket
        FROM documents
    ),
    slotted AS (
        SELECT bucket, l,
               CAST(floor((ROW_NUMBER() OVER (PARTITION BY bucket
                                              ORDER BY doc_id) - 1)
                          / 8.0) AS INT) AS batch_id
        FROM sized
    )
    SELECT CAST(bucket AS INT) AS bucket, batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(l) AS INT) AS max_len,
           CAST(SUM(l) AS BIGINT) AS sum_len,
           ROUND(1.0 - SUM(l) / CAST(COUNT(*) * GREATEST(MAX(l), 1) AS DOUBLE),
                 6) AS pad_frac
    FROM slotted GROUP BY bucket, batch_id
    """,
)
def q_length_bucket_batches(spark, sf_dir):
    """Length-bucketed batch building: pow2 token-length buckets, 8-doc
    batches filled in id order within each bucket, padding waste accounted
    against each batch's own max length. The bucketing bounds pad_frac at
    ~0.5 worst-case; the oracle restates the policy with the identical
    CASE ladder."""
    from ningaloo_turtle_etl_spark.operators.curation import length_bucket_batches

    docs = load_table(spark, "documents", sf_dir)
    return length_bucket_batches(docs, batch_size=8)


@register(
    "curriculum_order",
    """
    SELECT doc_id,
           CAST(NTILE(5) OVER (ORDER BY n_chars DESC, doc_id) AS INT) AS stage,
           substr(md5('curriculum ' || CAST(doc_id AS VARCHAR)), 1, 12)
               AS shuffle_key
    FROM documents
    """,
)
def q_curriculum_order(spark, sf_dir):
    """Curriculum staging by document length (n_chars as the difficulty
    proxy): 5 equal-count stages, easiest (longest) first, plus a
    deterministic md5 within-stage shuffle key. exact=True NTILE path for
    oracle parity; the exact=False approx-percentile binning path (no
    global sort, the 100 TB shape) is pinned against this one in
    tests/test_llm_ops.py."""
    from ningaloo_turtle_etl_spark.operators.curation import curriculum_order

    docs = load_table(spark, "documents", sf_dir)
    return curriculum_order(docs, score_col="n_chars", n_stages=5).select(
        "doc_id", "stage", "shuffle_key"
    )


@register(
    "oov_rate",
    f"""
    WITH pairs AS (
        SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
    ),
    counts AS (SELECT tok, COUNT(*) AS n FROM pairs GROUP BY tok),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS r
            FROM counts) WHERE r <= 500
    ),
    scored AS (
        SELECT p.doc_id, COUNT(*) AS n_tokens,
               SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
        FROM pairs p LEFT JOIN vocab v USING (tok) GROUP BY p.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(s.n_oov, 0) AS BIGINT) AS n_oov,
           ROUND(COALESCE(s.n_oov / CAST(s.n_tokens AS DOUBLE), 0.0), 6)
               AS oov_frac
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def q_oov_rate(spark, sf_dir):
    """Tokenizer-vocabulary coverage screen: top-500 corpus vocabulary
    (frequency then lexicographic — a deterministic total order) and each
    document's out-of-vocabulary token fraction
    (`operators/text.py oov_rate`). Vocabulary-sized count table, explode +
    broadcast probe scoring pass."""
    from ningaloo_turtle_etl_spark.operators.text import oov_rate

    docs = load_table(spark, "documents", sf_dir)
    return oov_rate(docs, vocab_size=500)


@register(
    "ngram_novelty",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_RAW} AS t FROM documents),
    grams AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(t) >= 3
                    THEN array_to_string(list_slice(t, i + 1, i + 3), ' ')
                    ELSE array_to_string(t, ' ') END AS gram
        FROM (
            SELECT doc_id, t,
                   unnest(range(CASE WHEN len(t) >= 3 THEN len(t) - 2
                                     ELSE 1 END)) AS i
            FROM toks
        )
    ),
    first_occ AS (SELECT gram, MIN(doc_id) AS first_id FROM grams GROUP BY 1),
    per_doc AS (
        SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel
        FROM grams g JOIN first_occ f USING (gram) GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(p.n_grams, 0) AS n_grams,
           COALESCE(p.n_novel, 0) AS n_novel,
           ROUND(COALESCE(p.n_novel / CAST(p.n_grams AS DOUBLE), 0.0), 6)
               AS novelty
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def q_ngram_novelty(spark, sf_dir):
    """Per-document 3-gram novelty vs everything earlier in the corpus
    (`operators/dedup.py ngram_novelty`): fraction of the doc's distinct
    shingles first seen in this doc. One gram-keyed min election + a
    payload-free join back; the redundancy signal dual to dedup."""
    from ningaloo_turtle_etl_spark.operators.dedup import ngram_novelty

    docs = load_table(spark, "documents", sf_dir)
    return ngram_novelty(docs, n=3)


@register(
    "label_centroid_cosine",
    """
    WITH ex AS (
        SELECT label, CAST(i AS INT) AS pos, embedding[i + 1] AS v
        FROM (SELECT label, embedding,
                     unnest(range(len(embedding))) AS i
              FROM embeddings)
    ),
    cent AS (SELECT label, pos, AVG(v) AS c FROM ex GROUP BY 1, 2),
    norms AS (SELECT label, sqrt(SUM(c * c)) AS nrm FROM cent GROUP BY 1),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b, SUM(a.c * b.c) AS dot
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT label_a, label_b,
           ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON na.label = dots.label_a
    JOIN norms nb ON nb.label = dots.label_b
    """,
)
def q_label_centroid_cosine(spark, sf_dir):
    """Class-separation diagnostic over the embedding space
    (`operators/similarity.py label_centroid_cosine`): pairwise cosine
    between per-label centroids. Raw vectors are touched once by the
    centroid pass; all pair math runs on the labels x dims table."""
    from ningaloo_turtle_etl_spark.operators.similarity import (
        label_centroid_cosine,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    return label_centroid_cosine(emb)


@register(
    "hard_negative_mining",
    f"""
    WITH pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               q.label AS label_a, c.label AS label_b,
               ROUND({_DOT} / (sqrt({_NORMSQ.format('c')})
                               * sqrt({_NORMSQ.format('q')})), 6) AS cosine
        FROM embeddings c, embeddings q
        WHERE q.vec_id < 120 AND c.label <> q.label
    )
    SELECT query_id, vec_id, label_a, label_b, cosine, rank FROM (
        SELECT query_id, vec_id, label_a, label_b, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS INT) AS rank
        FROM pairs
    ) WHERE rank <= 5
    """,
)
def q_hard_negative_mining(spark, sf_dir):
    """Contrastive hard negatives for a probe set (anchors = vec_id < 120):
    per anchor, the top-5 most cosine-similar vectors with a DIFFERENT
    label (`operators/similarity.py hard_negatives`) — the metric-learning
    pair miner and the standard label-noise probe. Anchors broadcast, the
    corpus streams map-side, WindowGroupLimit trims per-anchor top-k."""
    from ningaloo_turtle_etl_spark.operators.similarity import hard_negatives

    emb = load_table(spark, "embeddings", sf_dir)
    anchors = emb.filter(F.col("vec_id") < 120)
    return hard_negatives(emb, k=5, anchors=anchors)


@register(
    "minhash_incremental_near_dups",
    "SELECT id_a, id_b, jaccard FROM (" + _minhash_oracle_sql() + ") WHERE id_b >= 400",
)
def q_minhash_incremental_near_dups(spark, sf_dir):
    """Incremental MinHash dedup of a new batch (doc_id >= 400) against the
    existing corpus (`operators/dedup.py minhash_incremental_pairs`):
    new x old and new x new pairs only, never old x old, with bucket caps
    counted over the union so the output equals the full run restricted to
    new-id pairs — which is exactly how the oracle states it (the full
    corpus pipeline filtered to id_b >= 400)."""
    from ningaloo_turtle_etl_spark.operators.dedup import (
        minhash_incremental_pairs,
    )

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 500)
    old = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 400)
    return minhash_incremental_pairs(
        old, new, shingle_n=3, threshold=0.5, hash_family="md5"
    )


@register(
    "cross_source_duplication",
    f"""
    WITH fp AS (
        SELECT substr(md5(lower(array_to_string(
                   list_slice({_TOKENS_RAW}, 1, 8), ' '))), 1, 16)
                   AS fingerprint,
               source, doc_id
        FROM documents
    ),
    per AS (
        SELECT fingerprint, source AS src, COUNT(*) AS n
        FROM fp GROUP BY 1, 2
    ),
    tot AS (SELECT fingerprint, SUM(n) AS n_total FROM per GROUP BY 1),
    dup AS (
        SELECT p.* FROM per p JOIN tot USING (fingerprint)
        WHERE n_total > 1
    ),
    pairs AS (
        SELECT a.src AS source_a, b.src AS source_b,
               CASE WHEN a.src = b.src THEN a.n ELSE a.n + b.n END AS nd
        FROM dup a JOIN dup b ON a.fingerprint = b.fingerprint
         AND (a.src < b.src OR (a.src = b.src AND a.n > 1))
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(nd) AS BIGINT) AS n_docs
    FROM pairs GROUP BY 1, 2
    """,
)
def q_cross_source_duplication(spark, sf_dir):
    """Cross-source duplicate-leakage matrix
    (`operators/dedup.py cross_source_duplication`): per source pair, the
    duplicate clusters spanning both sources and the documents they hold —
    the are-these-feeds-rescraping-each-other diagnostic, here in its
    8-token shared-opening (boilerplate/template) variant so the synthetic
    corpus exercises real collisions. Fingerprint-keyed narrow shuffles;
    pair math on per-fingerprint source lists."""
    from ningaloo_turtle_etl_spark.operators.dedup import (
        cross_source_duplication,
    )

    docs = load_table(spark, "documents", sf_dir)
    return cross_source_duplication(docs, prefix_tokens=8)


@register(
    "boilerplate_removal",
    """
    WITH ex AS (
        SELECT doc_id AS id, source AS grp, i AS pos,
               array_to_string(list_slice(words, i * 2 + 1, i * 2 + 2), ' ')
                   AS seg
        FROM (SELECT doc_id, source, string_split(text, ' ') AS words
              FROM documents),
             unnest(range(CAST(ceil(len(words) / 2.0) AS BIGINT))) AS u(i)
    ),
    c AS (
        SELECT grp, seg, COUNT(DISTINCT id) AS nd FROM ex GROUP BY 1, 2
    ),
    m AS (
        SELECT ex.*, CASE WHEN c.nd >= 3 THEN 1 ELSE 0 END AS rm
        FROM ex JOIN c USING (grp, seg)
    )
    SELECT id AS doc_id, MIN(grp) AS source,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(rm) AS BIGINT) AS n_removed,
           ROUND(SUM(rm) / CAST(COUNT(*) AS DOUBLE), 6) AS removed_ratio,
           CAST(length(COALESCE(string_agg(CASE WHEN rm = 0 THEN seg END,
                                           ' ' ORDER BY pos), ''))
                AS BIGINT) AS cleaned_len,
           md5(COALESCE(string_agg(CASE WHEN rm = 0 THEN seg END,
                                   ' ' ORDER BY pos), '')) AS cleaned_md5
    FROM m GROUP BY id
    """,
)
def q_boilerplate_removal(spark, sf_dir):
    """CCNet/RefinedWeb-style cross-document segment dedup
    (`operators/curation.py boilerplate_segment_removal`): strip segments
    shared by >= 3 docs within a source — the template/banner scrubber
    that exact and near dedup leave behind. This corpus has no newlines,
    so the query runs the fixed-width 2-word-segment mode; the
    delimiter='\\n' line mode is pinned in tests/test_curation.py."""
    from ningaloo_turtle_etl_spark.operators.curation import (
        boilerplate_segment_removal,
    )

    docs = load_table(spark, "documents", sf_dir)
    return boilerplate_segment_removal(
        docs, "text", "doc_id", "source", seg_words=2, min_docs=3
    )


@register(
    "source_quality_scorecard",
    rf"""
    WITH base AS (
        SELECT source AS src, lang AS lg,
               substr(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))),
                      1, 16) AS fingerprint,
               length(text) AS nc,
               len({_TOKENS_RAW}) AS nt
        FROM documents
    ),
    stats AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(AVG(nc), 6) AS mean_chars,
               ROUND(AVG(nt), 6) AS mean_tokens,
               ROUND(1 - COUNT(DISTINCT fingerprint) * 1.0 / COUNT(*), 6)
                   AS dup_rate
        FROM base GROUP BY 1
    ),
    lc AS (
        SELECT src, lg, CAST(COUNT(*) AS BIGINT) AS c,
               row_number() OVER (PARTITION BY src
                                  ORDER BY COUNT(*) DESC, lg) AS rk
        FROM base GROUP BY src, lg
    )
    SELECT stats.src AS source, n_docs, mean_chars, mean_tokens, dup_rate,
           lc.lg AS top_lang,
           ROUND(lc.c * 1.0 / n_docs, 6) AS top_lang_share
    FROM stats JOIN lc ON lc.src = stats.src AND lc.rk = 1
    """,
)
def q_source_quality_scorecard(spark, sf_dir):
    """Per-source corpus health triage table
    (`operators/text.py source_scorecard`): volume, mean length, exact-dup
    rate, dominant language + purity — the rollup that says which feed
    deserves the deep diagnostic pass."""
    from ningaloo_turtle_etl_spark.operators.text import source_scorecard

    docs = load_table(spark, "documents", sf_dir)
    return source_scorecard(docs)


@register(
    "embedding_drift_by_label",
    """
    WITH ex AS (
        SELECT label AS grp,
               ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
                   % 2 AS half,
               r.i AS idx, CAST(embedding AS DOUBLE[])[r.i + 1] AS x
        FROM embeddings, unnest(range(len(embedding))) AS r(i)
    ),
    ds AS (
        SELECT grp, half, idx, SUM(x) AS s, COUNT(*) AS c
        FROM ex GROUP BY 1, 2, 3
    ),
    j AS (
        SELECT a.grp, a.c AS n_a, b.c AS n_b,
               a.s / a.c AS xa, b.s / b.c AS xb
        FROM ds a JOIN ds b ON a.grp = b.grp AND a.idx = b.idx
        WHERE a.half = 0 AND b.half = 1
    )
    SELECT grp AS label,
           CAST(MIN(n_a) AS BIGINT) AS n_a,
           CAST(MIN(n_b) AS BIGINT) AS n_b,
           ROUND(SUM(xa * xb) / (sqrt(SUM(xa * xa)) * sqrt(SUM(xb * xb))),
                 6) AS centroid_cosine,
           ROUND(sqrt(SUM((xa - xb) * (xa - xb))), 6) AS centroid_shift
    FROM j GROUP BY 1
    """,
)
def q_embedding_drift_by_label(spark, sf_dir):
    """Embedding-space drift per label between md5-parity halves of the
    corpus (`operators/similarity.py embedding_drift`): cosine + L2 shift
    between half-centroids — the semantic drift the vocabulary-level
    monitors can't see. Shuffle carries 2·groups·dim partial sums."""
    from ningaloo_turtle_etl_spark.operators.similarity import (
        embedding_drift,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    return embedding_drift(emb, "label")


@register(
    "domain_reweight_mix",
    """
    WITH l AS (
        SELECT source, 1.0 / ln(2.0 + length(text)) AS loss FROM documents
    ),
    g AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(AVG(loss), 6) AS mean_loss
        FROM l GROUP BY 1
    ),
    base AS (
        SELECT ROUND(AVG(mean_loss), 6) AS bl, COUNT(*) AS k FROM g
    ),
    r AS (
        SELECT g.*, bl, exp(1.0 * (mean_loss - bl)) / k AS wr
        FROM g, base
    )
    SELECT source, n_docs, mean_loss,
           ROUND(mean_loss - bl, 6) AS excess_loss,
           ROUND(wr / SUM(wr) OVER (), 6) AS weight
    FROM r
    """,
)
def q_domain_reweight_mix(spark, sf_dir):
    """DoReMi-flavored next-epoch domain weights
    (`operators/curation.py domain_reweight`): sources with above-baseline
    loss (here the deterministic short-doc proxy 1/ln(2+chars)) get
    exp(eta·excess) up-weighting from a uniform prior — the loop-closer
    feeding temperature_mix_sample's rates."""
    from ningaloo_turtle_etl_spark.operators.curation import domain_reweight

    docs = load_table(spark, "documents", sf_dir)
    loss = 1.0 / F.log(F.lit(2.0) + F.length("text"))
    return domain_reweight(docs, "source", loss, eta=1.0)


def _ahash_oracle_sql(max_id: int = 250, edit_below: int = 60,
                      max_hamming: int = 8) -> str:
    """DuckDB replay of the aHash near-dup pipeline over the fake codec:
    same byte extraction and dims as _multimodal_oracle_sql, cells = the
    first least(64, w*h) cyclic pixels, integer-exact above-mean bits
    (cell*n > sum) packed into two 32-bit lanes, 4x16-bit band LSH join
    keyed by (n_cells, band, value), exact popcount-hamming verify."""
    return f"""
    WITH media AS (
        SELECT doc_id AS media_id, text FROM documents
        WHERE lang = 'en' AND doc_id < {max_id}
        UNION ALL
        SELECT doc_id + 100000,
               substr(text, 1, 10) || 'X' || substr(text, 12)
        FROM documents WHERE lang = 'en' AND doc_id < {edit_below}
    ),
    d AS (SELECT media_id, hex(encode(text)) AS hx FROM media),
    b AS (
        SELECT media_id, length(hx) // 2 AS nb,
               list_transform(range(length(hx) // 2),
                   i -> ('0x' || substr(hx, 2*i + 1, 2))::BIGINT) AS bytes
        FROM d
    ),
    dims AS (
        SELECT media_id, nb, bytes,
               CAST(CASE WHEN nb = 0 THEN 0
                    ELSE (list_sum(list_slice(bytes, 1, least(8, nb))) % 31) + 2
                    END AS BIGINT) AS w,
               CAST(CASE WHEN nb = 0 THEN 0
                    ELSE (list_sum(list_slice(bytes, nb - least(8, nb) + 1, nb))
                          % 23) + 2
                    END AS BIGINT) AS h
        FROM b
    ),
    cl AS (
        SELECT media_id, CAST(least(64, w * h) AS BIGINT) AS n,
               list_transform(range(CAST(least(64, w * h) AS BIGINT)),
                              j -> bytes[(j % nb) + 1]) AS cells
        FROM dims
    ),
    hashes AS (
        SELECT media_id, CAST(n AS INTEGER) AS n_cells,
               COALESCE(list_sum(list_transform(range(least(n, 32)),
                   j -> CASE WHEN cells[j+1] * n > list_sum(cells)
                             THEN (1::BIGINT << j) ELSE 0::BIGINT END)), 0)
                   AS h0,
               COALESCE(list_sum(list_transform(range(32, greatest(n, 32)),
                   j -> CASE WHEN cells[j+1] * n > list_sum(cells)
                             THEN (1::BIGINT << (j - 32)) ELSE 0::BIGINT END)),
                   0) AS h1
        FROM cl
    ),
    bands AS (
        -- only bands covering real cells (band*16 < n_cells): mirrors the
        -- operator's guard against structurally-zero upper-band cliques
        SELECT media_id, n_cells, band,
               CASE band WHEN 0 THEN h0 & 65535
                         WHEN 1 THEN (h0 >> 16) & 65535
                         WHEN 2 THEN h1 & 65535
                         ELSE (h1 >> 16) & 65535 END AS val
        FROM hashes, (SELECT unnest(range(4)) AS band)
        WHERE band * 16 < n_cells
    ),
    cand AS (
        SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
        FROM bands a JOIN bands b
          ON a.n_cells = b.n_cells AND a.band = b.band AND a.val = b.val
         AND a.media_id < b.media_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha.h0, hb.h0))
                + bit_count(xor(ha.h1, hb.h1)) AS INTEGER) AS hamming
    FROM cand
    JOIN hashes ha ON cand.id_a = ha.media_id
    JOIN hashes hb ON cand.id_b = hb.media_id
    WHERE bit_count(xor(ha.h0, hb.h0)) + bit_count(xor(ha.h1, hb.h1))
          <= {max_hamming}
    ORDER BY id_a, id_b
    """


@register("image_ahash_near_dups", _ahash_oracle_sql())
def image_ahash_near_dups(spark, sf_dir):
    """Perceptual-hash near-duplicate image detection over binary media
    (`operators/multimodal.py image_ahash + ahash_near_dup_pairs`): the
    fake-codec corpus plus single-character-edited variants, aHash'd in
    the Arrow batch stage, then banded 16-bit hamming LSH and exact
    popcount verification — the image twin of the SimHash text family.
    Each edited variant pairs with its original at a small hamming
    distance; everything after the codec is pure Catalyst and the whole
    chain replays in DuckDB."""
    from ningaloo_turtle_etl_spark.operators.multimodal import (
        ahash_near_dup_pairs,
        image_ahash,
    )

    docs = load_table(spark, "documents", sf_dir).filter(
        (F.col("lang") == "en") & (F.col("doc_id") < 250)
    )
    orig = docs.select("doc_id", "text")
    edited = docs.filter(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 10),
            F.lit("X"),
            F.expr("substring(text, 12)"),
        ).alias("text"),
    )
    media = (
        orig.unionByName(edited)
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("content"),
        )
    )
    hashes = image_ahash(media, decoder="fake")
    return ahash_near_dup_pairs(hashes, max_hamming=8).orderBy(
        "id_a", "id_b"
    )


@register(
    "winnowing_quote_pairs",
    r"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        WHERE lang = 'en' AND doc_id < 200
        UNION ALL
        SELECT doc_id + 100000, substr(text, 1, 250)
        FROM documents WHERE lang = 'en' AND doc_id < 50
    ),
    toks AS (
        SELECT doc_id AS id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS t
        FROM corpus
    ),
    hs AS (
        SELECT id,
               CASE WHEN len(t) >= 3 THEN list_transform(
                   list_transform(range(greatest(len(t) - 3, 0) + 1),
                       i -> array_to_string(list_slice(t, i + 1, i + 3), ' ')),
                   g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)
               ELSE []::BIGINT[] END AS hs
        FROM toks
    ),
    sel AS (
        SELECT id,
               list_distinct(list_transform(
                   range(greatest(len(hs) - 4, 0) + 1),
                   p -> list_min(list_slice(hs, p + 1, p + 4)))) AS fps
        FROM hs
    ),
    fps0 AS (SELECT id, unnest(fps) AS fp FROM sel),
    fps AS (SELECT id, fp FROM fps0 WHERE fp IS NOT NULL),
    freq AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 500),
    kept AS (SELECT fps.id, fps.fp FROM fps JOIN freq USING (fp)),
    sizes AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM fps GROUP BY id
    ),
    shared AS (
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.id <> b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_shared,
           ROUND(n_shared * 1.0 / n_fp, 6) AS containment
    FROM shared JOIN sizes ON sizes.id = shared.id_a
    WHERE n_shared * 1.0 / n_fp >= 0.6
    ORDER BY id_a, id_b
    """,
)
def winnowing_quote_pairs(spark, sf_dir):
    """MOSS-style winnowing fingerprint containment over a quoting corpus
    (`operators/dedup.py winnowing_fingerprints +
    winnowing_containment_pairs`, k=3, window=4): each doc keeps the
    per-window minimum k-gram hash (guaranteeing any k+window-1-token
    shared run shares a fingerprint), a frequency cap drops boilerplate
    fingerprints, and the inverted fingerprint index itself generates
    candidates — no blocking column needed. The fixture plants 50
    truncated quoters (prefix of a real doc under a new id); each must
    surface as (quoter -> original) with high containment. Everything is
    md5-integer arithmetic, replayed list-for-list in DuckDB."""
    from ningaloo_turtle_etl_spark.operators.dedup import (
        winnowing_containment_pairs,
    )

    docs = load_table(spark, "documents", sf_dir).filter(
        (F.col("lang") == "en") & (F.col("doc_id") < 200)
    )
    quoters = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring("text", 1, 250).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(quoters)
    return winnowing_containment_pairs(
        corpus, k=3, window=4, threshold=0.6, max_fp_docs=500
    ).orderBy("id_a", "id_b")


@register(
    "bleu_rouge_by_source",
    r"""
    WITH corpus AS (
        SELECT doc_id AS _id, source,
               substr(text, 1, 300) || ' xyzzy' AS cand,
               text AS ref
        FROM documents
    ),
    tok AS (
        SELECT _id, source,
               list_filter(string_split_regex(cand, '\s+'), x -> x <> '') AS tc,
               list_filter(string_split_regex(ref,  '\s+'), x -> x <> '') AS tr
        FROM corpus
    ),
    nn AS (SELECT unnest(range(1, 5)) AS n),
    cg AS (
        SELECT _id, source, n, unnest(gs) AS gram FROM (
            SELECT _id, source, nn.n AS n,
                   CASE WHEN len(tc) >= nn.n
                        THEN list_transform(range(len(tc) - nn.n + 1),
                             i -> array_to_string(
                                 list_slice(tc, i + 1, i + nn.n), ' '))
                        ELSE [] END AS gs
            FROM tok CROSS JOIN nn
        )
    ),
    rg AS (
        SELECT _id, n, unnest(gs) AS gram FROM (
            SELECT _id, nn.n AS n,
                   CASE WHEN len(tr) >= nn.n
                        THEN list_transform(range(len(tr) - nn.n + 1),
                             i -> array_to_string(
                                 list_slice(tr, i + 1, i + nn.n), ' '))
                        ELSE [] END AS gs
            FROM tok CROSS JOIN nn
        )
    ),
    cc AS (
        SELECT _id, source, n, gram, COUNT(*) AS cc
        FROM cg GROUP BY 1, 2, 3, 4
    ),
    rc AS (SELECT _id, n, gram, COUNT(*) AS rc FROM rg GROUP BY 1, 2, 3),
    clip AS (
        SELECT cc.source, cc.n, SUM(least(cc.cc, rc.rc)) AS clip_n
        FROM cc JOIN rc
          ON cc._id = rc._id AND cc.n = rc.n AND cc.gram = rc.gram
        GROUP BY 1, 2
    ),
    cand_tot AS (SELECT source, n, SUM(cc) AS cand_n FROM cc GROUP BY 1, 2),
    ref_tot AS (
        SELECT t.source, rc.n, SUM(rc.rc) AS ref_n
        FROM rc JOIN (SELECT DISTINCT _id, source FROM tok) t
          ON rc._id = t._id
        GROUP BY 1, 2
    ),
    per_n AS (
        SELECT cand_tot.source, cand_tot.n, cand_n,
               COALESCE(clip_n, 0) AS clip_n, ref_n
        FROM cand_tot
        LEFT JOIN clip USING (source, n)
        LEFT JOIN ref_tot USING (source, n)
    ),
    wide AS (
        SELECT source,
               MAX(CASE WHEN n = 1 THEN clip_n * 1.0 / cand_n END) AS p1,
               MAX(CASE WHEN n = 2 THEN clip_n * 1.0 / cand_n END) AS p2,
               MAX(CASE WHEN n = 3 THEN clip_n * 1.0 / cand_n END) AS p3,
               MAX(CASE WHEN n = 4 THEN clip_n * 1.0 / cand_n END) AS p4,
               MAX(CASE WHEN n = 1 THEN clip_n * 1.0 / ref_n END) AS r1,
               MAX(CASE WHEN n = 2 THEN clip_n * 1.0 / ref_n END) AS r2
        FROM per_n GROUP BY 1
    ),
    lens AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(len(tc)) AS BIGINT) AS cand_tokens,
               CAST(SUM(len(tr)) AS BIGINT) AS ref_tokens
        FROM tok GROUP BY 1
    ),
    fin AS (
        SELECT lens.source, n_pairs, cand_tokens, ref_tokens,
               CASE WHEN cand_tokens = 0 THEN 0.0
                    WHEN cand_tokens >= ref_tokens THEN 1.0
                    ELSE exp(1.0 - ref_tokens * 1.0 / cand_tokens)
               END AS bp,
               p1, p2, p3, p4, r1, r2
        FROM lens JOIN wide USING (source)
    )
    SELECT source, n_pairs, cand_tokens, ref_tokens,
           ROUND(bp, 6) AS brevity_penalty,
           ROUND(COALESCE(p1, 0), 6) AS p1,
           ROUND(COALESCE(p2, 0), 6) AS p2,
           ROUND(COALESCE(p3, 0), 6) AS p3,
           ROUND(COALESCE(p4, 0), 6) AS p4,
           ROUND(COALESCE(r1, 0), 6) AS rouge1_recall,
           ROUND(COALESCE(r2, 0), 6) AS rouge2_recall,
           ROUND(CASE WHEN p1 > 0 AND p2 > 0 AND p3 > 0 AND p4 > 0
                      THEN bp * exp((ln(p1) + ln(p2) + ln(p3) + ln(p4)) / 4.0)
                      ELSE 0.0 END, 6) AS bleu
    FROM fin ORDER BY source
    """,
)
def bleu_rouge_by_source(spark, sf_dir):
    """Corpus BLEU-4 + ROUGE-1/2 recall per source
    (`operators/text.py corpus_bleu_rouge`): candidates are each
    document truncated to 300 chars plus one wrong token, references the
    full text — truncation drives the brevity penalty below 1, the bogus
    token pushes precision below 1, and every n-gram stage (clipped
    multiset counts, micro-averaged corpus totals, geometric-mean BLEU)
    replays list-for-list in DuckDB. The shape a distillation /
    rewrite pipeline reports nightly over generated-vs-reference pairs."""
    from ningaloo_turtle_etl_spark.operators.text import corpus_bleu_rouge

    docs = load_table(spark, "documents", sf_dir)
    paired = docs.select(
        "doc_id",
        "source",
        F.concat(F.substring("text", 1, 300), F.lit(" xyzzy")).alias("cand"),
        F.col("text").alias("ref"),
    )
    return corpus_bleu_rouge(
        paired, "cand", "ref", "doc_id", max_n=4, group_cols=["source"]
    ).orderBy("source")


@register(
    "bitext_margin_pairs",
    """
    WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        FROM embeddings
    ),
    a AS (SELECT vec_id, v FROM emb WHERE label % 2 = 0),
    b AS (SELECT vec_id, v FROM emb WHERE label % 2 = 1),
    scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2]))
               / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
                  * sqrt(list_sum(list_transform(b.v, x -> x*x)))) AS cos
        FROM a, b
    ),
    ranked AS (
        SELECT id_a, id_b, cos,
               ROW_NUMBER() OVER (PARTITION BY id_a
                                  ORDER BY cos DESC, id_b) AS ra,
               ROW_NUMBER() OVER (PARTITION BY id_b
                                  ORDER BY cos DESC, id_a) AS rb
        FROM scored
    ),
    dx AS (SELECT id_a, AVG(cos) AS dx FROM ranked WHERE ra <= 4 GROUP BY 1),
    dy AS (SELECT id_b, AVG(cos) AS dy FROM ranked WHERE rb <= 4 GROUP BY 1)
    SELECT r.id_a, r.id_b,
           ROUND(r.cos, 6) AS cosine,
           ROUND(r.cos / ((dx.dx + dy.dy) / 2.0), 6) AS margin
    FROM ranked r
    JOIN dx ON r.id_a = dx.id_a
    JOIN dy ON r.id_b = dy.id_b
    WHERE r.ra = 1 AND r.cos / ((dx.dx + dy.dy) / 2.0) >= 1.1
    ORDER BY r.id_a
    """,
)
def bitext_margin_pairs(spark, sf_dir):
    """Margin-criterion parallel-pair mining across the two label-parity
    halves of the embedding space (`operators/similarity.py
    margin_bitext_pairs`, k=4, margin >= 1.1): each even-label vector's
    best odd-label cosine candidate survives only when it clears the
    ratio margin against BOTH sides' local top-k neighborhood density —
    the Artetxe-Schwenk criterion that suppresses hub vectors absolute
    cosine over-mines. The exact verify stage of a bitext/aligned-pair
    mining pipeline; at corpus scale the ann_* blocked passes generate
    the candidates and this margin math is unchanged."""
    from ningaloo_turtle_etl_spark.operators.similarity import (
        margin_bitext_pairs,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    a = emb.filter(F.col("label") % 2 == 0)
    b = emb.filter(F.col("label") % 2 == 1)
    return margin_bitext_pairs(a, b, k=4, threshold=1.1).orderBy("id_a")


@register(
    "table_digest_by_flag",
    """
    WITH h AS (
        SELECT l_returnflag,
               ('0x' || substr(md5(concat_ws(chr(31),
                   coalesce(CAST(l_orderkey AS VARCHAR), chr(31) || chr(0)),
                   coalesce(CAST(l_partkey AS VARCHAR), chr(31) || chr(0)),
                   coalesce(CAST(l_suppkey AS VARCHAR), chr(31) || chr(0)),
                   coalesce(CAST(l_linenumber AS VARCHAR), chr(31) || chr(0)),
                   coalesce(l_returnflag, chr(31) || chr(0)),
                   coalesce(l_linestatus, chr(31) || chr(0))
               )), 1, 15))::BIGINT AS rh
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(rh) AS BIGINT) AS xor_digest,
           CAST(SUM(CAST(rh AS HUGEINT)) % 2305843009213693951 AS BIGINT)
               AS sum_digest
    FROM h GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def table_digest_by_flag(spark, sf_dir):
    """Order-independent per-partition content digest of lineitem's
    business key + status columns (`operators/delta.py dataset_digest`):
    bit_xor and overflow-safe modular-sum folds of the md5-60 row hash,
    plus the row count — the constant-width change-detection primitive
    that lets a 100 TB snapshot comparison short-circuit equal partitions
    before any row-level diff runs. The digest arithmetic (decimal-
    accumulated sum mod 2^61-1) replays bit-for-bit in DuckDB."""
    from ningaloo_turtle_etl_spark.operators.delta import dataset_digest

    li = load_table(spark, "lineitem", sf_dir)
    return dataset_digest(
        li,
        [
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_returnflag",
            "l_linestatus",
        ],
        by=["l_returnflag"],
    ).orderBy("l_returnflag")


@register(
    "ppjoin_jaccard_pairs",
    rf"""
    WITH sets AS (
        SELECT doc_id AS id, list_distinct({_TOKENS}) AS s
        FROM (SELECT doc_id, lower(text) AS text FROM documents
              WHERE doc_id < 150)
    ),
    sized AS (SELECT id, s, len(s) AS n FROM sets WHERE len(s) > 0),
    tok AS (SELECT id, n, unnest(s) AS tk FROM sized),
    freq AS (SELECT tk, COUNT(*) AS f FROM tok GROUP BY tk),
    ranked AS (
        SELECT tok.id, tok.n, tok.tk,
               ROW_NUMBER() OVER (PARTITION BY tok.id
                                  ORDER BY freq.f, tok.tk) AS rn
        FROM tok JOIN freq ON tok.tk = freq.tk
    ),
    prefix AS (
        SELECT id, n, tk FROM ranked
        WHERE rn <= n - CAST(ceil(0.5 * n) AS BIGINT) + 1
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM prefix a JOIN prefix b ON a.tk = b.tk AND a.id < b.id
        WHERE b.n >= 0.5 * a.n AND b.n <= a.n / 0.5
    ),
    verified AS (
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                 / (x.n + y.n - len(list_intersect(x.s, y.s))) AS jac
        FROM cand c
        JOIN sized x ON c.id_a = x.id
        JOIN sized y ON c.id_b = y.id
    )
    SELECT id_a, id_b, ROUND(jac, 6) AS jaccard
    FROM verified WHERE jac >= 0.5
    ORDER BY id_a, id_b
    """,
)
def ppjoin_jaccard_pairs(spark, sf_dir):
    """Exact token-set Jaccard self-join by PPJoin prefix filtering
    (`operators/dedup.py ppjoin_pairs`, t=0.5): pairs must share one of
    each side's rarest-prefix tokens, pass the length gate, then verify
    exact Jaccard — deterministic 100% recall without MinHash's banded
    probability or ngram_jaccard's blocking column, at prefix-join cost.
    Brute-force completeness is pinned in tests/test_llm_ops.py."""
    from ningaloo_turtle_etl_spark.operators.dedup import ppjoin_pairs

    docs = load_table(spark, "documents", sf_dir).filter(
        F.col("doc_id") < 150
    )
    return ppjoin_pairs(docs, threshold=0.5).orderBy("id_a", "id_b")


@register(
    "source_lang_diversity",
    """
    WITH cell AS (
        SELECT source AS g, lang AS cl, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cell GROUP BY g),
    terms AS (
        SELECT cell.g, tot.n,
               CAST(round(-(cell.c * 1.0 / tot.n)
                          * ln(cell.c * 1.0 / tot.n) * 1e9) AS BIGINT) AS hm,
               CAST(round((cell.c * 1.0 / tot.n) * (cell.c * 1.0 / tot.n)
                          * 1e9) AS BIGINT) AS sm
        FROM cell JOIN tot USING (g)
    ),
    agg AS (
        SELECT g, MAX(n) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(hm) AS BIGINT) AS h_nano,
               CAST(SUM(sm) AS BIGINT) AS s_nano
        FROM terms GROUP BY g
    )
    SELECT g AS source, n_rows, n_classes,
           ROUND(h_nano / 1e9, 6) AS shannon_h,
           ROUND(exp(h_nano / 1e9), 6) AS effective_classes,
           ROUND(1.0 - s_nano / 1e9, 6) AS simpson,
           ROUND(s_nano / 1e9, 6) AS hhi
    FROM agg ORDER BY source
    """,
)
def source_lang_diversity(spark, sf_dir):
    """Language-diversity profile per source (`operators/curation.py
    class_diversity_profile`): Shannon entropy / effective languages /
    Simpson / HHI of each source's language mix — the corpus-composition
    dashboard row; per-class terms quantize to integer nanos before the
    per-group sum."""
    from ningaloo_turtle_etl_spark.operators.curation import (
        class_diversity_profile,
    )

    docs = load_table(spark, "documents", sf_dir)
    return class_diversity_profile(docs, "source", "lang").orderBy("source")


def _pca_power_components_oracle_sql(
    p: int = 2, iterations: int = 3, d: int = 64
) -> str:
    """Unrolled DEFLATED power-iteration oracle over the coordinate grain
    (embeddings × range(d)): per component and round one vid-keyed dot
    CTE and one j-keyed accumulate CTE, every accumulation term rounded
    to integer MICROS before its exact-integer SUM, the covariance 1/n
    applied before the norm, and each later component's per-round wd
    deflated by every finished component — wd − (λ_m·(dot_m/1e6))·v_m[j]
    in component order, the dot quantized to exact integer micros —
    token-for-token the driver arithmetic in `operators/similarity.py
    pca_power_components`."""
    parts = [
        f"""
    coord AS MATERIALIZED (
        SELECT vec_id AS vid, CAST(j AS BIGINT) AS j,
               CAST(round(CAST(embedding[j] AS DOUBLE) * 1e6) AS BIGINT)
                   AS xm
        FROM embeddings, range(1, {d + 1}) t(j)
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    mu AS (
        SELECT j, CAST((2*s + n - (((2*s + n) % (2*n)) + 2*n) % (2*n))
                       // (2*n) AS BIGINT) AS mu_m
        FROM (SELECT j, CAST(SUM(xm) AS HUGEINT) AS s,
                     CAST(n AS HUGEINT) AS n
              FROM coord CROSS JOIN nn GROUP BY j, n)
    ),
    cent AS MATERIALIZED (
        SELECT vid, coord.j, (xm - mu_m) / 1e6 AS c
        FROM coord JOIN mu ON coord.j = mu.j
    )"""
    ]
    T = iterations
    for k in range(1, p + 1):
        parts.append(
            f""",
    v{k}_0 AS MATERIALIZED (
        SELECT j, CASE WHEN j = {k} THEN CAST(1.0 AS DOUBLE)
                       ELSE CAST(0.0 AS DOUBLE) END AS v
        FROM mu
    )"""
        )
        for t in range(1, T + 1):
            parts.append(
                f""",
    s{k}_{t} AS MATERIALIZED (
        SELECT vid,
               CAST(SUM(CAST(round(c * v * 1e6) AS BIGINT)) AS BIGINT) AS g
        FROM cent JOIN v{k}_{t - 1} USING (j) GROUP BY vid
    ),
    sv{k}_{t} AS MATERIALIZED (SELECT vid, g / 1e6 AS sv FROM s{k}_{t}),
    w{k}_{t} AS MATERIALIZED (
        SELECT j,
               CAST(SUM(CAST(round(sv * c * 1e6) AS BIGINT)) AS BIGINT)
                   AS gw
        FROM cent JOIN sv{k}_{t} USING (vid) GROUP BY j
    ),
    wd{k}_{t} AS MATERIALIZED (
        SELECT j, (gw / 1e6) / nn.n AS wd FROM w{k}_{t} CROSS JOIN nn
    )"""
            )
            if k > 1:
                # deflation: quantized dot per prior component, then the
                # sequential per-j subtraction in component order
                for m in range(1, k):
                    parts.append(
                        f""",
    dot{k}_{t}_{m} AS MATERIALIZED (
        SELECT CAST(SUM(CAST(round(a.v * b.v * 1e6) AS BIGINT)) AS BIGINT)
                   AS dm
        FROM v{m}_{T} a JOIN v{k}_{t - 1} b USING (j)
    )"""
                    )
                sub = "".join(
                    f" - (sqrt(ns{m}_{T}.nsq / 1e6)"
                    f" * (dot{k}_{t}_{m}.dm / 1e6)) * a{m}.v"
                    for m in range(1, k)
                )
                joins = "".join(
                    f" JOIN v{m}_{T} a{m} USING (j)"
                    f" CROSS JOIN ns{m}_{T} CROSS JOIN dot{k}_{t}_{m}"
                    for m in range(1, k)
                )
                parts.append(
                    f""",
    wdef{k}_{t} AS MATERIALIZED (
        SELECT w.j, w.wd{sub} AS wd
        FROM wd{k}_{t} w{joins}
    )"""
                )
            src = f"wdef{k}_{t}" if k > 1 else f"wd{k}_{t}"
            parts.append(
                f""",
    ns{k}_{t} AS MATERIALIZED (
        SELECT CAST(SUM(CAST(floor(wd * wd * 1e6 + 0.5) AS BIGINT))
                    AS BIGINT) AS nsq
        FROM {src}
    ),
    v{k}_{t} AS MATERIALIZED (
        SELECT j, wd / sqrt(nsq / 1e6) AS v
        FROM {src} CROSS JOIN ns{k}_{t}
    )"""
            )
    finals = "\n    UNION ALL ".join(
        f"SELECT {k} AS component, CAST(j AS INT) AS dim_idx,"
        f" ROUND(v, 6) AS loading,"
        f" ROUND(sqrt(nsq / 1e6), 6) AS eigenvalue"
        f" FROM v{k}_{T} CROSS JOIN ns{k}_{T}"
        for k in range(1, p + 1)
    )
    return (
        "WITH "
        + "".join(parts)
        + f"""
    {finals}
    ORDER BY component, dim_idx"""
    )


@register("pca_power_components", _pca_power_components_oracle_sql(2, 3, 64))
def pca_power_components_query(spark, sf_dir):
    """Top-2 principal components of the embedding corpus by deflated
    power iteration (`operators/similarity.py pca_power_components`,
    3 rounds per component, v0 = e_k): component 2 iterates on the
    covariance with component 1's λ·vvᵀ removed — deflation happens on
    the d-sized driver vector, so the distributed shape stays one
    scan + one coordinate-grain aggregate per round at any corpus
    size. The full two-component trajectory (including the quantized
    deflation dots) replays bit-for-bit in the unrolled oracle."""
    from ningaloo_turtle_etl_spark.operators.similarity import (
        pca_power_components,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    return pca_power_components(emb, n_components=2, iterations=3)


@register(
    "moment_profile_by_type",
    """
    WITH agg AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 1e9, 0) AS DECIMAL(38,0)))
                    AS DOUBLE) / 1e9 AS s1,
               CAST(SUM(CAST(ROUND(value * value * 1e6, 0)
                    AS DECIMAL(38,0))) AS DOUBLE) / 1e6 AS s2,
               CAST(SUM(CAST(ROUND(value * value * value * 1e3, 0)
                    AS DECIMAL(38,0))) AS DOUBLE) / 1e3 AS s3,
               CAST(SUM(CAST(ROUND(value * value * value * value, 0)
                    AS DECIMAL(38,0))) AS DOUBLE) AS s4
        FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(s1 / n, 6) AS mean,
           ROUND(s2 / n - (s1 / n) * (s1 / n), 6) AS variance,
           ROUND(CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0 THEN
               (s3 / n - 3.0 * (s1 / n) * (s2 / n)
                + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
               / ((s2 / n - (s1 / n) * (s1 / n))
                  * sqrt(s2 / n - (s1 / n) * (s1 / n))) END, 6) AS skewness,
           ROUND(CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0 THEN
               (s4 / n - 4.0 * (s1 / n) * (s3 / n)
                + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
               / ((s2 / n - (s1 / n) * (s1 / n))
                  * (s2 / n - (s1 / n) * (s1 / n))) - 3.0 END, 6)
               AS kurtosis_excess
    FROM agg ORDER BY event_type
    """,
)
def moment_profile_by_type(spark, sf_dir):
    """Four-moment value profile per event type (`operators/relational.py
    moment_profile`): mean / population variance / skewness g1 / excess
    kurtosis g2 from raw power sums with the formulas written out —
    Spark's and DuckDB's built-in skewness()/kurtosis() use different
    estimator conventions, so the explicit power-sum form IS the
    cross-engine contract."""
    from ningaloo_turtle_etl_spark.operators.relational import (
        moment_profile,
    )

    ev = load_table(spark, "events", sf_dir)
    return moment_profile(ev, "value", by=["event_type"]).orderBy(
        "event_type"
    )


@register(
    "audio_wav_features",
    """
    WITH ids AS (
        SELECT doc_id AS media_id,
               800 + (doc_id % 50) * 16 AS n,
               3 + doc_id % 7 AS m
        FROM documents WHERE doc_id < 200
    ),
    w AS (
        SELECT media_id, n,
               list_transform(range(0, n),
                   k -> ((k * m + media_id) % 4001) - 2000) AS vs
        FROM ids
    ),
    f AS (
        SELECT media_id, n,
               CAST(list_sum(list_transform(vs, v -> v * v)) AS BIGINT)
                   AS sumsq,
               CAST(len(list_filter(range(1, n),
                   i -> vs[i] * vs[i + 1] < 0)) AS BIGINT) AS zc,
               [CAST(list_sum(list_transform(range(b * (n // 4) + 1,
                        (b + 1) * (n // 4) + 1), i -> vs[i] * vs[i]))
                    AS BIGINT) FOR b IN [0, 1, 2, 3]] AS be
        FROM w
    )
    SELECT media_id, 8000 AS sample_rate, n AS n_samples,
           ROUND(n / 8000, 6) AS duration_sec,
           ROUND(sqrt(sumsq / n) / 32768.0, 6) AS rms,
           zc AS zero_crossings,
           ROUND(be[1] / 32768.0 / 32768.0, 6) AS e0,
           ROUND(be[2] / 32768.0 / 32768.0, 6) AS e1,
           ROUND(be[3] / 32768.0 / 32768.0, 6) AS e2,
           ROUND(be[4] / 32768.0 / 32768.0, 6) AS e3
    FROM f ORDER BY media_id
    """,
)
def audio_wav_features(spark, sf_dir):
    """Audio-tier multimodal plumbing with a REAL codec: synthesize a
    deterministic PCM16 WAV blob per document id (sawtooth-ish samples
    v_k = ((k·m + id) mod 4001) − 2000), decode it back through the
    RIFF/WAVE parser (`operators/multimodal.py _wav_decode` — chunk
    walk, fmt validation, 16-bit PCM), and extract integer-exact
    features (RMS, zero crossings, equal-time band energies) via
    Arrow-batched mapInPandas (`extract_wav_features`). The oracle
    regenerates the same PCM from the formula and recomputes every
    feature from exact integer sums — so the full synth→encode→decode→
    feature path is value-hash-proven, not just schema-checked."""
    import numpy as np
    import pandas as pd

    from ningaloo_turtle_etl_spark.operators.multimodal import (
        extract_wav_features,
        synth_pcm16_wav,
    )

    ids = load_table(spark, "documents", sf_dir).filter(
        F.col("doc_id") < 200
    ).select(F.col("doc_id").alias("media_id"))

    def synth(batches):
        for batch in batches:
            out = []
            for mid in batch["media_id"]:
                mid = int(mid)
                n = 800 + (mid % 50) * 16
                m = 3 + mid % 7
                k = np.arange(n, dtype=np.int64)
                v = ((k * m + mid) % 4001) - 2000
                out.append(
                    {
                        "media_id": mid,
                        "content": synth_pcm16_wav(
                            v.astype(np.int16), 8000
                        ),
                    }
                )
            yield pd.DataFrame(out)

    media = ids.mapInPandas(synth, schema="media_id long, content binary")
    feats = extract_wav_features(media, n_bands=4)
    return feats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        F.round("duration_sec", 6).alias("duration_sec"),
        F.round("rms", 6).alias("rms"),
        "zero_crossings",
        F.round("e0", 6).alias("e0"),
        F.round("e1", 6).alias("e1"),
        F.round("e2", 6).alias("e2"),
        F.round("e3", 6).alias("e3"),
    ).orderBy("media_id")


@register(
    "cohens_kappa_langid",
    f"""
    WITH t AS (SELECT doc_id, lang, text, {_TOKENS} AS toks FROM documents),
    s AS (SELECT doc_id, lang, {_SCORES_SQL} FROM t),
    p AS (
        SELECT lang,
               CASE WHEN greatest(score_en,score_de,score_fr,score_es,score_zh) = 0
                        THEN 'und'
                    WHEN score_de = greatest(score_en,score_de,score_fr,score_es,score_zh) THEN 'de'
                    WHEN score_en = greatest(score_en,score_de,score_fr,score_es,score_zh) THEN 'en'
                    WHEN score_es = greatest(score_en,score_de,score_fr,score_es,score_zh) THEN 'es'
                    WHEN score_fr = greatest(score_en,score_de,score_fr,score_es,score_zh) THEN 'fr'
                    ELSE 'zh' END AS predicted_lang
        FROM s
    ),
    cells AS (
        SELECT lang AS a, predicted_lang AS b, CAST(COUNT(*) AS BIGINT) AS n
        FROM p GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
    ra AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na FROM cells GROUP BY a),
    rb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS nb FROM cells GROUP BY b),
    ag AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN a = b THEN n END), 0) AS BIGINT)
                   AS agree
        FROM cells
    ),
    pc AS (
        SELECT CAST(SUM(CAST(na AS HUGEINT) * CAST(nb AS HUGEINT))
                    AS HUGEINT) AS pesum
        FROM ra JOIN rb ON ra.a = rb.b
    )
    SELECT nn AS n_docs, agree AS n_agree,
           ROUND(CAST(agree AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS po,
           ROUND(CAST(pesum AS DOUBLE)
                 / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS pe,
           ROUND(CASE WHEN 1.0 - CAST(pesum AS DOUBLE)
                              / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) > 0
                 THEN (CAST(agree AS DOUBLE) / CAST(nn AS DOUBLE)
                       - CAST(pesum AS DOUBLE)
                         / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)))
                      / (1.0 - CAST(pesum AS DOUBLE)
                               / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)))
                 END, 6) AS kappa
    FROM tot, ag, pc
    """,
)
def cohens_kappa_langid(spark, sf_dir):
    """Cohen's kappa between the labeled lang column and the marker-word
    lang-ID prediction — the chance-corrected agreement scalar on top of
    lang_id_confusion's matrix (raw accuracy rewards a degenerate
    majority-class predictor; kappa subtracts the marginal-product
    chance rate). All inputs are exact bigint cell counts from ONE
    category-grain aggregate; po/pe/kappa run in one fixed double
    association mirrored by the oracle. Category grain ≤ 6×6 — the
    marginal join broadcasts trivially."""
    from ningaloo_turtle_etl_spark.operators.text import with_lang_id

    docs = load_table(spark, "documents", sf_dir)
    cells = (
        with_lang_id(docs)
        .groupBy(F.col("lang").alias("a"), F.col("predicted_lang").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    ra = cells.groupBy("a").agg(F.sum("n").cast("long").alias("na"))
    rb = cells.groupBy("b").agg(F.sum("n").cast("long").alias("nb"))
    tot = cells.agg(
        F.sum("n").cast("long").alias("nn"),
        F.coalesce(
            F.sum(F.when(F.col("a") == F.col("b"), F.col("n"))), F.lit(0)
        ).cast("long").alias("agree"),
    )
    pe = (
        ra.join(F.broadcast(rb), ra["a"] == rb["b"])
        .agg(
            F.sum(
                F.col("na").cast("decimal(38,0)")
                * F.col("nb").cast("decimal(38,0)")
            ).alias("pesum")
        )
    )
    j = tot.crossJoin(F.broadcast(pe))
    nn = F.col("nn").cast("double")
    po_raw = F.col("agree").cast("double") / nn
    pe_raw = F.col("pesum").cast("double") / (nn * nn)
    return j.select(
        F.col("nn").alias("n_docs"),
        F.col("agree").alias("n_agree"),
        F.round(po_raw, 6).alias("po"),
        F.round(pe_raw, 6).alias("pe"),
        F.round(
            F.when(
                F.lit(1.0) - pe_raw > 0,
                (po_raw - pe_raw) / (F.lit(1.0) - pe_raw),
            ),
            6,
        ).alias("kappa"),
    )
