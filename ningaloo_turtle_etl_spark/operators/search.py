"""Full-text search primitives over the corpus: an inverted index with
positional postings, and phrase / conjunctive queries answered from the
index without rescanning documents.

Scale design:
- The index build is ONE (term, doc)-keyed aggregation over the exploded
  corpus — the irreducible shuffle; write the result partitioned or
  bucketed by term and every later query is partition-pruned to just its
  query terms' postings.
- Phrase matching never rejoins the corpus: adjacency is array arithmetic
  over the positional postings (shift the running end-positions by one and
  intersect with the next term's positions — the classic positional-merge,
  vectorized as Catalyst array ops).
- Query terms are a handful of rows, so every per-term postings slice is
  broadcast-sized after the term filter; the join chain is doc-keyed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ningaloo_turtle_etl_spark.operators.text import tokens


def build_inverted_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Positional inverted index: one row per (term, doc) with the sorted
    0-based token positions and the per-term document frequency.

    Output: (term, doc_id, positions array<int>, tf, df). ``df`` rides a
    term-partitioned window over the already-aggregated postings (postings
    are vocabulary×docs-sized, far smaller than the corpus)."""
    from pyspark.sql.window import Window

    posting = (
        docs.select(
            F.col(id_col),
            F.posexplode(tokens(F.lower(F.col(text_col)))).alias(
                "pos", "term"
            ),
        )
        .groupBy("term", id_col)
        .agg(
            F.array_sort(F.collect_list("pos")).alias("positions"),
            F.count(F.lit(1)).alias("tf"),
        )
    )
    return posting.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )


def phrase_occurrences(
    index: DataFrame, phrase: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Exact phrase matching from the positional index: returns
    (doc_id, n_occurrences > 0) for docs containing the phrase's terms
    ADJACENT and in order.

    Positional merge: seed with the first term's positions; for each next
    term, advance the running end-positions by one token and intersect
    with that term's postings — docs whose running set empties drop out
    via the inner join. Phrase length bounds the join chain (queries are
    short; the corpus is never rescanned)."""
    if not phrase:
        raise ValueError("phrase must contain at least one term")
    phrase = [t.lower() for t in phrase]
    run = (
        index.where(F.col("term") == phrase[0])
        .select(F.col(id_col), F.col("positions").alias("_ends"))
    )
    for t in phrase[1:]:
        nxt = index.where(F.col("term") == t).select(
            F.col(id_col), F.col("positions").alias("_next")
        )
        run = (
            run.join(nxt, on=id_col)
            .select(
                F.col(id_col),
                F.array_intersect(
                    F.transform(F.col("_ends"), lambda p: p + 1),
                    F.col("_next"),
                ).alias("_ends"),
            )
            .where(F.size("_ends") > 0)
        )
    return run.select(
        F.col(id_col), F.size("_ends").cast("long").alias("n_occurrences")
    )


def top_bigram(docs: DataFrame, text_col: str = "text") -> tuple[str, str]:
    """The corpus's most frequent adjacent token pair (ties broken
    lexicographically) — a deterministic, data-derived phrase for search
    demos and tests. One pair-keyed aggregation; the argmax collects a
    single row."""
    toks = tokens(F.lower(F.col(text_col)))
    # Generate barrier + shifted-array zip_with: per-position
    # element_at(toks, i) let CollapseProject inline the tokenizer into
    # every lookup — O(tokens²) per doc (the same CollapseProject cliff
    # as the winnowing fingerprints in operators/dedup.py)
    tk = F.col("_tk")
    m = F.size(tk) - F.lit(1)
    pairs = F.when(
        F.size(tk) >= 2,
        F.zip_with(
            F.slice(tk, 1, m),
            F.slice(tk, 2, m),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    row = (
        docs.select(F.explode(F.array(toks)).alias("_tk"))
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
        .limit(1)
        .collect()
    )
    if not row:
        raise ValueError("corpus has no adjacent token pair")
    return row[0]["a"], row[0]["b"]


def bm25_topk(
    index: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranking from the positional index (Robertson-Spärck Jones):
    top-``k`` docs for a bag-of-terms query, scored

        Σ_t  idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
        idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).

    Ties break by doc id. Corpus stats (N, avgdl) come from a 1-row
    aggregate broadcast back; doc lengths re-aggregate from the index's tf
    column, so the corpus itself is never touched. Per-term scores are
    rounded to integer micro-units BEFORE the per-doc sum, making the
    ranking sum-order-proof (same convention as zipf_fit). The term
    filter prunes the index to |terms| postings slices — with the index
    written term-partitioned, everything downstream is broadcast-sized.

    Returns (doc_id, bm25_score, n_query_terms_matched)."""
    q = sorted({t.lower() for t in terms})
    if not q:
        raise ValueError("terms must be non-empty")
    dl = index.groupBy(id_col).agg(F.sum("tf").alias("_dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.avg("_dl").alias("_avgdl"),
    )
    post = (
        index.where(F.col("term").isin(q))
        .join(dl, on=id_col)
        .crossJoin(F.broadcast(stats))
    )
    n, df_ = F.col("_n_docs").cast("double"), F.col("df").cast("double")
    idf = F.log((n - df_ + 0.5) / (df_ + 0.5) + 1.0)
    tf = F.col("tf").cast("double")
    denom = tf + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
    micro = F.round(idf * (tf * (k1 + 1.0) / denom) * 1e6, 0).cast("long")
    return (
        post.select(F.col(id_col), micro.alias("_s"))
        .groupBy(id_col)
        .agg(
            F.round(F.sum("_s") / F.lit(1e6), 6).alias("bm25_score"),
            F.count(F.lit(1)).alias("n_query_terms_matched"),
        )
        .orderBy(F.desc("bm25_score"), F.asc(id_col))
        .limit(k)
    )


def query_likelihood_topk(
    index: DataFrame,
    terms: list[str],
    k: int = 10,
    mu: float = 50.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty
    2004) — the language-modeling retrieval rung next to
    :func:`bm25_topk` (same index, different scoring family):

        score(d) = Σ_t ln((tf_td + μ·p_t) / (dl_d + μ)),
        p_t = ctf_t / |C|  (collection term probability).

    Candidates are docs matching at least one query term; the missing
    term still contributes its smoothed (tf = 0) mass via a left join
    on the candidates × query-terms grid, so rankings are the true QL
    scores over the candidate set, not a matched-terms-only
    approximation. Corpus stats (|C|) ride a broadcast 1-row
    aggregate; per-term log scores round to integer micro-units BEFORE
    the per-doc sum (order-proof, the bm25_topk convention). Ties
    break by doc id.

    Scale shape: the term filter prunes the index to |q| postings
    slices; the grid is candidates × |q| rows; dl re-aggregates from
    the index — the corpus is never rescanned. Returns
    (doc_id, ql_score, n_query_terms_matched), TakeOrdered top-k."""
    q = sorted({t.lower() for t in terms})
    if not q:
        raise ValueError("terms must be non-empty")
    hits = index.filter(F.col("term").isin(q)).select(
        id_col, "term", "tf"
    )
    dl = index.groupBy(id_col).agg(F.sum("tf").cast("long").alias("_dl"))
    stats = index.agg(F.sum("tf").cast("long").alias("_ctot"))
    ctf = hits.groupBy("term").agg(F.sum("tf").cast("long").alias("_ctf"))
    cand = hits.select(id_col).distinct()
    grid = cand.crossJoin(F.broadcast(ctf))
    g = (
        grid.join(hits, on=[id_col, "term"], how="left")
        .join(dl, on=id_col)
        .crossJoin(F.broadcast(stats))
    )
    p_t = F.col("_ctf").cast("double") / F.col("_ctot").cast("double")
    score_t = F.log(
        (
            F.coalesce(F.col("tf"), F.lit(0)).cast("double")
            + F.lit(float(mu)) * p_t
        )
        / (F.col("_dl").cast("double") + F.lit(float(mu)))
    )
    scored = g.select(
        F.col(id_col),
        F.round(score_t * 1e6, 0).cast("long").alias("_sm"),
        F.col("tf").isNotNull().cast("long").alias("_m"),
    )
    out = scored.groupBy(id_col).agg(
        F.round(F.sum("_sm") / F.lit(1e6), 6).alias("ql_score"),
        F.sum("_m").cast("long").alias("n_query_terms_matched"),
    )
    return out.orderBy(F.desc("ql_score"), F.asc(id_col)).limit(k)
