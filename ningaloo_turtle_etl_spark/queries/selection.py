"""Data-selection queries: exact stratified sampling, weighted sampling,
corpus drift, DSIR importance selection, training shards, leakage-safe
splits, contrastive negative pairs, annotator agreement and the k-center
coreset (full DuckDB oracles — every hash is md5-derived, so the
oracle reproduces the sample bit-for-bit).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.operators.selection import (
    corpus_drift_metrics,
    dsir_top_select,
    stratified_sample_exact,
    weighted_sample_topn,
)
from ningaloo_turtle_etl_spark.registry import register
from ningaloo_turtle_etl_spark.sources.tables import load_table

_TOKENS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"
_G2 = "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])"

_SAMPLE_N = 200


@register(
    "stratified_sample_exact",
    f"""
    WITH per AS (
        SELECT source, COUNT(*) AS w FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(w) AS tw FROM per),
    alloc AS (
        SELECT source, w,
               CAST(FLOOR({_SAMPLE_N} * CAST(w AS DOUBLE) / CAST(tw AS DOUBLE))
                    AS BIGINT) AS base,
               {_SAMPLE_N} * CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)
                 - FLOOR({_SAMPLE_N} * CAST(w AS DOUBLE) / CAST(tw AS DOUBLE))
                   AS frac
        FROM per, tot
    ),
    quota AS (
        SELECT source, w,
               LEAST(w, base + CASE WHEN ROW_NUMBER() OVER
                                        (ORDER BY frac DESC, source)
                                    <= {_SAMPLE_N} - SUM(base) OVER ()
                                    THEN 1 ELSE 0 END) AS quota
        FROM alloc
    ),
    ranked AS (
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
               ) AS INT) AS sample_rank
        FROM documents
    )
    SELECT r.doc_id, r.source, r.sample_rank
    FROM ranked r JOIN quota q USING (source)
    WHERE r.sample_rank <= q.quota
    """,
)
def q_stratified_sample_exact(spark, sf_dir):
    """EXACT-size stratified sample (largest-remainder allocation over
    sources, per-stratum smallest-md5-of-id winners). The rate-based
    samplers (training_mix_sample etc.) only hit their size in expectation;
    this one hits a fixed token/row budget exactly — and stays
    deterministic under retries. Scale path (map-side hash gate before the
    skewed stratum window) is exercised equivalence-tested in pytest."""
    docs = load_table(spark, "documents", sf_dir)
    return stratified_sample_exact(
        docs, _SAMPLE_N, stratum_col="source", id_col="doc_id"
    ).select("doc_id", "source", "sample_rank")


@register(
    "corpus_drift_metrics",
    f"""
    WITH ta AS (
        SELECT unnest(toks) AS token
        FROM (SELECT {_TOKENS} AS toks FROM documents WHERE doc_id % 2 = 0)
    ),
    tb AS (
        SELECT unnest(toks) AS token
        FROM (SELECT {_TOKENS} AS toks FROM documents WHERE doc_id % 2 = 1)
    ),
    ca AS (SELECT token, COUNT(*) AS na FROM ta GROUP BY token),
    cb AS (SELECT token, COUNT(*) AS nb FROM tb GROUP BY token),
    j AS (
        SELECT COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
        FROM ca FULL OUTER JOIN cb ON ca.token = cb.token
    ),
    t AS (SELECT SUM(na) AS ta_, SUM(nb) AS tb_, COUNT(*) AS v FROM j),
    e AS (
        SELECT na, nb, ta_, tb_, v,
               (na + 0.5) / (ta_ + 0.5 * v) AS pa,
               (nb + 0.5) / (tb_ + 0.5 * v) AS pb
        FROM j, t
    )
    SELECT CAST(MAX(ta_) AS BIGINT) AS n_tokens_a,
           CAST(MAX(tb_) AS BIGINT) AS n_tokens_b,
           MAX(v) AS vocab_size,
           ROUND(SUM(pa * ln(pa / pb)), 6) AS kl_ab,
           ROUND(SUM(pb * ln(pb / pa)), 6) AS kl_ba,
           ROUND(SUM(pa * ln(pa / ((pa + pb) / 2.0))) / 2
                 + SUM(pb * ln(pb / ((pa + pb) / 2.0))) / 2, 6) AS js_divergence,
           ROUND(SUM(ABS(pa - pb)) / 2, 6) AS total_variation
    FROM e
    """,
)
def q_corpus_drift_metrics(spark, sf_dir):
    """Crawl-over-crawl drift monitoring: smoothed unigram KL both ways,
    Jensen-Shannon, and total variation between two corpus snapshots (here:
    the doc_id parity halves standing in for old/new crawls)."""
    docs = load_table(spark, "documents", sf_dir)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    return corpus_drift_metrics(a, b, smoothing=0.5)


@register(
    "weighted_sample_topn",
    """
    SELECT doc_id, n_chars, sample_key
    FROM (
        SELECT doc_id, n_chars,
               ROUND(ln(
                   (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) + 1.0) / 4294967297.0), 12)
                 / CAST(n_chars AS DOUBLE) AS sample_key
        FROM documents WHERE n_chars > 0
    )
    ORDER BY sample_key DESC, doc_id
    LIMIT 150
    """,
)
def q_weighted_sample_topn(spark, sf_dir):
    """Deterministic weight-proportional sampling without replacement
    (Efraimidis–Spirakis A-Res log-keys ln(u)/w over md5 uniforms): longer
    docs (by n_chars) are proportionally likelier to be kept. The oracle
    reproduces the exact selected set — ln(u) is md5-derived and rounded
    before the weight division, so the ranking can't flip on a libm ulp,
    and the log form stays tie-free at any weight scale (ADVICE r03)."""
    docs = load_table(spark, "documents", sf_dir)
    return weighted_sample_topn(docs, 150, weight_col="n_chars").select(
        "doc_id", "n_chars", "sample_key"
    )


_DSIR_B = 512
_DSIR_N = 100


@register(
    "dsir_importance_select",
    f"""
    WITH pool AS (SELECT doc_id, text FROM documents WHERE lang <> 'en'),
    tgt AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
    gt AS (
        SELECT CAST(concat('0x', substr(md5(unnest({_G2})), 1, 8)) AS BIGINT)
               % {_DSIR_B} AS bucket
        FROM (SELECT {_TOKENS} AS toks FROM tgt)
    ),
    gr AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(unnest({_G2})), 1, 8)) AS BIGINT)
               % {_DSIR_B} AS bucket
        FROM (SELECT doc_id, {_TOKENS} AS toks FROM pool)
    ),
    bt AS (SELECT bucket, COUNT(*) AS nt FROM gt GROUP BY bucket),
    br AS (SELECT bucket, COUNT(*) AS nr FROM gr GROUP BY bucket),
    jb AS (
        SELECT COALESCE(bt.bucket, br.bucket) AS bucket,
               COALESCE(nt, 0) AS nt, COALESCE(nr, 0) AS nr
        FROM bt FULL OUTER JOIN br ON bt.bucket = br.bucket
    ),
    tot AS (SELECT SUM(nt) AS tt, SUM(nr) AS tr FROM jb),
    ratios AS (
        SELECT bucket,
               ln((nt + 1.0) / (tt + 1.0 * {_DSIR_B}))
               - ln((nr + 1.0) / (tr + 1.0 * {_DSIR_B})) AS log_ratio
        FROM jb, tot
    ),
    scored AS (
        SELECT gr.doc_id, COUNT(*) AS n_grams,
               SUM(r.log_ratio) AS log_weight
        FROM gr JOIN ratios r USING (bucket)
        GROUP BY gr.doc_id
    )
    SELECT p.doc_id,
           CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
           ROUND(COALESCE(s.log_weight, 0.0), 6) AS log_weight
    FROM pool p LEFT JOIN scored s USING (doc_id)
    ORDER BY ROUND(COALESCE(s.log_weight, 0.0), 6) DESC, p.doc_id
    LIMIT {_DSIR_N}
    """,
)
def q_dsir_importance_select(spark, sf_dir):
    """DSIR importance selection (Xie et al. 2023): non-English docs scored
    by hashed-bigram importance toward the English docs' distribution, top
    100 kept. Every hash is md5-derived, so the oracle reproduces bucket
    assignment — and therefore weights and ranks — exactly."""
    docs = load_table(spark, "documents", sf_dir)
    pool = docs.filter(F.col("lang") != "en")
    target = docs.filter(F.col("lang") == "en")
    return dsir_top_select(
        pool, target, _DSIR_N, ngram_n=2, n_buckets=_DSIR_B, smoothing=1.0
    )


@register(
    "training_shards",
    """
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h60
      FROM documents
    )
    SELECT doc_id,
           CAST(h60 % 16 AS INTEGER) AS shard_id,
           CAST(row_number() OVER (PARTITION BY h60 % 16 ORDER BY h60, doc_id) - 1
                AS BIGINT) AS shard_pos
    FROM h
    """,
)
def q_training_shards(spark, sf_dir):
    """Deterministic global shuffle for training output: shard_id =
    md5-hash mod 16 (balanced, retry-stable — unlike repartition()'s
    split-order-dependent round-robin) and shard_pos = hash-rank within the
    shard, the reproducible pseudo-random read order. The reference's
    serving layer writes one CSV per run (`ningaloo-etl.Rmd` outputs);
    sharded deterministic output is the 100 TB counterpart. Manifest/audit
    form: operators/curation.py:training_shard_manifest (window-free,
    pytest-pinned)."""
    from ningaloo_turtle_etl_spark.operators.curation import assign_training_shards

    docs = load_table(spark, "documents", sf_dir)
    return assign_training_shards(docs, n_shards=16).select(
        "doc_id", "shard_id", "shard_pos"
    )


@register(
    "contrastive_negative_pairs",
    """
    WITH pool AS (
        SELECT CAST(doc_id AS VARCHAR) AS cand, source AS cgrp
        FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)
        LIMIT 64
    ),
    pairs AS (
        SELECT d.doc_id AS anchor_id, p.cand,
               ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#'
                                   || p.cand), 1, 15))::BIGINT AS key
        FROM documents d JOIN pool p ON p.cgrp <> d.source
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY anchor_id
                                     ORDER BY key, cand) AS rnk
        FROM pairs
    )
    SELECT anchor_id, CAST(cand AS BIGINT) AS neg_id,
           CAST(rnk AS BIGINT) AS rank
    FROM r WHERE rnk <= 4
    """,
)
def q_contrastive_negative_pairs(spark, sf_dir):
    """Deterministic cross-source contrastive negatives, 4 per anchor
    from a 64-doc md5-ranked shared pool
    (`operators/selection.py contrastive_negatives`): map-only array
    assignment (pool embedded as a literal — the codebook-LUT pattern),
    no join/window/shuffle at any corpus size, and the md5 pair order
    replays row-for-row in SQL."""
    from ningaloo_turtle_etl_spark.operators.selection import (
        contrastive_negatives,
    )

    docs = load_table(spark, "documents", sf_dir)
    return contrastive_negatives(docs, "doc_id", "source", k=4, pool_n=64)


@register(
    "leakage_safe_split",
    r"""
    WITH fp AS (
        SELECT doc_id AS id,
               substr(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))),
                      1, 16) AS fingerprint
        FROM documents
    ),
    g AS (
        SELECT fingerprint, MIN(id) AS anchor_id,
               CAST(COUNT(*) AS BIGINT) AS group_size
        FROM fp GROUP BY 1
    ),
    a AS (
        SELECT *,
               CASE WHEN ('0x' || substr(md5(CAST(anchor_id AS VARCHAR)),
                                         1, 8))::BIGINT / 4294967296.0 < 0.1
                    THEN 'val' ELSE 'train' END AS split
        FROM g
    )
    SELECT fp.id AS doc_id, anchor_id, group_size, split
    FROM fp JOIN a USING (fingerprint)
    """,
)
def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe 90/10 train/val split
    (`operators/selection.py leakage_safe_split`): duplicate GROUPS (by
    normalized-content fingerprint) are assigned whole via the md5
    uniform on the group anchor — a copy can never sit in train while
    its twin sits in validation."""
    from ningaloo_turtle_etl_spark.operators.selection import (
        leakage_safe_split,
    )

    docs = load_table(spark, "documents", sf_dir)
    return leakage_safe_split(docs, "doc_id", "text", val_frac=0.1)


_TOKENS_SQL = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"


@register(
    "annotator_agreement",
    f"""
    WITH lab AS (
        SELECT lang,
               CASE WHEN n_chars >= 250 THEN 'long' ELSE 'short' END AS a,
               CASE WHEN len({_TOKENS_SQL}) >= 45
                    THEN 'long' ELSE 'short' END AS b
        FROM documents
    ),
    tot AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_items,
               SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
        FROM lab GROUP BY lang
    ),
    ma AS (SELECT lang, a AS lbl, COUNT(*) AS na FROM lab GROUP BY 1, 2),
    mb AS (SELECT lang, b AS lbl, COUNT(*) AS nb FROM lab GROUP BY 1, 2),
    pe AS (
        SELECT COALESCE(ma.lang, mb.lang) AS lang,
               SUM(COALESCE(na, 0) * 1.0 * COALESCE(nb, 0)) AS pe_num
        FROM ma FULL OUTER JOIN mb
          ON ma.lang = mb.lang AND ma.lbl = mb.lbl
        GROUP BY 1
    )
    SELECT t.lang, n_items,
           ROUND(agree * 1.0 / n_items, 6) AS p_observed,
           ROUND(pe_num / (n_items * 1.0 * n_items), 6) AS p_expected,
           ROUND(CASE
               WHEN pe_num / (n_items * 1.0 * n_items) >= 1.0
               THEN CASE WHEN agree = n_items THEN 1.0 ELSE 0.0 END
               ELSE (agree * 1.0 / n_items
                     - pe_num / (n_items * 1.0 * n_items))
                    / (1.0 - pe_num / (n_items * 1.0 * n_items))
           END, 6) AS kappa
    FROM tot t JOIN pe USING (lang)
    ORDER BY lang
    """,
)
def annotator_agreement(spark, sf_dir):
    """Per-language Cohen's kappa between two deterministic labelers
    (`operators/agreement.py cohens_kappa`): a char-length rater and a
    token-count rater both binning docs long/short — the chance-corrected
    agreement a labeling pipeline reports before trusting either signal.
    Pure hash aggregates at (lang, label) grain; no windows, no UDFs."""
    from ningaloo_turtle_etl_spark.operators.agreement import cohens_kappa
    from ningaloo_turtle_etl_spark.operators.text import tokens

    docs = load_table(spark, "documents", sf_dir)
    labeled = docs.select(
        "lang",
        F.when(F.col("n_chars") >= 250, "long").otherwise("short").alias(
            "rater_len"
        ),
        F.when(F.size(tokens("text")) >= 45, "long")
        .otherwise("short")
        .alias("rater_tok"),
    )
    return cohens_kappa(
        labeled, "rater_len", "rater_tok", by=["lang"]
    ).orderBy("lang")


def _kcenter_oracle_sql(k: int = 8, d: int = 64) -> str:
    """Unrolled greedy k-center oracle: c1 = min id; per round one
    dmin-update CTE (exact-integer per-coordinate micro terms, identical
    operation order to `operators/selection.py kcenter_select`) and one
    argmax CTE (dmin DESC, id ASC). All CTEs MATERIALIZED — each c{r}
    is referenced by the next round AND the final union, and DuckDB
    re-evaluates inline CTEs per reference (as in the PCA oracles)."""

    def dist(a, b):
        return (
            f"CAST(list_sum(list_transform(range(1, {d + 1}), j ->"
            f" CAST(round((CAST({a}.embedding[j] AS DOUBLE)"
            f" - CAST({b}.embedding[j] AS DOUBLE))"
            f" * (CAST({a}.embedding[j] AS DOUBLE)"
            f" - CAST({b}.embedding[j] AS DOUBLE)) * 1e6)"
            f" AS BIGINT))) AS BIGINT)"
        )

    parts = [
        """
    e AS MATERIALIZED (SELECT vec_id AS id, embedding FROM embeddings),
    c1 AS MATERIALIZED (
        SELECT id, embedding FROM e ORDER BY id LIMIT 1
    ),
    d1 AS MATERIALIZED (
        SELECT e.id, e.embedding, """
        + dist("e", "c")
        + """ AS dmin
        FROM e CROSS JOIN c1 c
    )"""
    ]
    for r in range(2, k + 1):
        parts.append(
            f""",
    c{r} AS MATERIALIZED (
        SELECT id, embedding, dmin FROM d{r - 1}
        ORDER BY dmin DESC, id LIMIT 1
    )"""
        )
        if r < k:
            parts.append(
                f""",
    d{r} AS MATERIALIZED (
        SELECT t.id, t.embedding, least(t.dmin, {dist('t', 'c')}) AS dmin
        FROM d{r - 1} t CROSS JOIN c{r} c
    )"""
            )
    finals = ["SELECT 1 AS pos, id, CAST(NULL AS DOUBLE) AS radius FROM c1"]
    finals += [
        f"SELECT {r}, id, ROUND(dmin / 1e6, 6) FROM c{r}"
        for r in range(2, k + 1)
    ]
    return (
        "WITH "
        + "".join(parts)
        + "\n    "
        + "\n    UNION ALL ".join(finals)
        + "\n    ORDER BY pos"
    )


@register("kcenter_coreset_select", _kcenter_oracle_sql(8, 64))
def kcenter_coreset_select(spark, sf_dir):
    """Greedy k-center coreset over the embedding corpus
    (`operators/selection.py kcenter_select`, k=8, first center = min
    vec_id): farthest-point traversal picks 8 exemplars that 2-approx
    cover the space — the diversity selector next to DSIR's importance
    selector. Each round is one literal-center map pass + TakeOrdered;
    distances are exact integer micros, replayed coordinate-for-
    coordinate by the unrolled oracle."""
    from ningaloo_turtle_etl_spark.operators.selection import kcenter_select

    emb = load_table(spark, "embeddings", sf_dir)
    return kcenter_select(emb, k=8)
