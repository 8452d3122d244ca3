"""Similarity search over embedding columns (``array<float>``).

Three tiers, same result contract (query_id, vec_id, cosine, rank):

- ``cosine_topk`` — brute force. The query set is broadcast; the corpus is
  scanned map-side; per-query top-k via ranked window. Exact; the baseline
  every approximate tier is measured against.
- ``lsh_topk`` — random-hyperplane LSH: b sign-bits as the bucket key,
  computed as PURE column expressions (one dot product per bit against a
  literal hyperplane), candidates = exact-bucket collisions in ANY of L
  independent tables (recall is bought with more tables, not bit-flip
  multiprobe), exact re-rank inside buckets.
- ``ivf_topk`` — inverted-file: k-means-lite centroids fit on a driver
  sample, corpus assigned to nearest centroid (one Arrow pass), queries
  probe ``nprobe`` nearest centroids, exact re-rank inside probed cells.

At 100 TB: brute force is one broadcast + map + per-query TakeOrdered (no
all-pairs shuffle); LSH/IVF turn the scan into a bucket-pruned scan — the
partition key IS the bucket, so a probe touches only matching partitions.
"""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window


def _norm(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k. Embeddings are upcast to double so
    accumulation is deterministic and oracle-comparable."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("v_norm", _norm(F.col("v")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q")
    ).withColumn("q_norm", _norm(F.col("q")))

    joined = c.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    cos = _dot(F.col("v"), F.col("q")) / (F.col("v_norm") * F.col("q_norm"))
    scored = joined.select(
        "query_id", "vec_id", F.round(cos, 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force squared-L2 top-k — the ground truth an L2-metric
    index (PQ/ADC, IVF-L2) must be measured against. Cosine ground truth
    would misstate PQ recall on unnormalized embeddings, where the two
    orderings disagree. Same shape as :func:`cosine_topk`: corpus scan ×
    broadcast query set, ties by vec_id. Returns
    (query_id, vec_id, distance, rank)."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q")
    )
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    dist = F.aggregate(
        F.zip_with(F.col("v"), F.col("q"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # Rank by the UNROUNDED distance (rounding only the projected output
    # column) so near-ties within 1e-6 resolve in true L2 order — the same
    # policy as pq_topk's exact re-rank stage, keeping both halves of a
    # recall metric on one ordering convention.
    scored = joined.select("query_id", "vec_id", dist.alias("_d"))
    w = Window.partitionBy("query_id").orderBy(F.asc("_d"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("_d"), 6).alias("distance"),
            "rank",
        )
    )


# --- random-hyperplane LSH --------------------------------------------------
def _hyperplanes(dim: int, bits: int, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim).astype(np.float64)


def _bucket_expr(vec_col, planes: np.ndarray):
    """Sign-bit bucket as a single integer column: bit i = (v · h_i) > 0."""
    bits = [
        F.when(
            _dot(vec_col, F.array(*[F.lit(float(x)) for x in planes[i]])) > 0, 1
        ).otherwise(0)
        for i in range(planes.shape[0])
    ]
    bucket = F.lit(0)
    for i, b in enumerate(bits):
        bucket = bucket + (b * F.lit(int(2**i)))
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 6,
    tables: int = 6,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k, multi-table sign-LSH: L independent tables of b
    hyperplane sign-bits; candidates collide with the query in ANY table
    (recall = 1-(1-p^b)^L where p = 1-θ/π), then exact cosine re-rank.

    b trades candidate-set size against per-table recall; L buys recall
    back. Low-similarity corpora (θ near 90°) need small b / larger L —
    tune with the recall harness in tests/test_llm_ops.py.

    ``dim`` is inferred from the data when not given: hyperplanes of the
    wrong width null out every dot product (zip_with pads with NULL), which
    collapses all vectors into bucket 0 — still correct after re-rank, but
    the bucket-pruned scan silently degrades to all-pairs."""
    if dim is None:
        first = corpus.select(F.size(vec_col).alias("d")).first()
        if first is None:
            id_t = corpus.schema[id_col].dataType.simpleString()
            return corpus.sparkSession.createDataFrame(
                [], f"query_id {id_t}, vec_id {id_t}, cosine double, rank int"
            )
        dim = int(first["d"])
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q")
    )
    tbl_buckets_c, tbl_buckets_q = [], []
    for t in range(tables):
        planes = _hyperplanes(dim, bits, seed + 1000 * t)
        tbl_buckets_c.append(
            F.struct(F.lit(t).alias("t"), _bucket_expr(F.col("v"), planes).alias("bk"))
        )
        tbl_buckets_q.append(
            F.struct(F.lit(t).alias("t"), _bucket_expr(F.col("q"), planes).alias("bk"))
        )
    c = c.withColumn("tb", F.explode(F.array(*tbl_buckets_c))).select(
        "vec_id", "v", F.col("tb.t").alias("t"), F.col("tb.bk").alias("bk")
    ).withColumn("v_norm", _norm(F.col("v")))
    q = q.withColumn("tb", F.explode(F.array(*tbl_buckets_q))).select(
        "query_id", "q", F.col("tb.t").alias("t"), F.col("tb.bk").alias("bk")
    ).withColumn("q_norm", _norm(F.col("q")))

    cand = c.join(F.broadcast(q), on=["t", "bk"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("v"), F.col("q")) / (F.col("v_norm") * F.col("q_norm"))
    scored = cand.select(
        "query_id", "vec_id", F.round(cos, 6).alias("cosine")
    ).dropDuplicates(["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --- IVF --------------------------------------------------------------------
def _kmeanspp_init(sample: np.ndarray, k: int, rng) -> np.ndarray:
    """k-means++ seeding (Arthur & Vassilvitskii 2007): each next centroid
    drawn with probability ∝ squared distance to the nearest chosen one.
    Spreads initial centroids over the data, which evens out cell sizes —
    uniform init on weak-structure corpora tends to drop several centroids
    into the same dense region and leave mega-cells that defeat IVF pruning.
    Deterministic given ``rng``'s state."""
    first = rng.randint(len(sample))
    cents = [sample[first]]
    d2 = ((sample - cents[0]) ** 2).sum(1)
    for _ in range(k - 1):
        total = d2.sum()
        if total <= 0:
            cents.append(sample[rng.randint(len(sample))])
            continue
        nxt = rng.choice(len(sample), p=d2 / total)
        cents.append(sample[nxt])
        d2 = np.minimum(d2, ((sample - cents[-1]) ** 2).sum(1))
    return np.asarray(cents)


def fit_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    sample_rows: int = 2048,
    iters: int = 8,
    vec_col: str = "embedding",
    seed: int = 7,
    method: str = "sample",
    id_col: str = "vec_id",
    init: str = "uniform",
) -> np.ndarray:
    """k-means-lite on a driver-side sample (Lloyd iterations in numpy).
    The reference's own PCNM trick (spatial_modelling.Rmd:211-224) — compute
    the expensive thing on a small distinct set, apply to the big set —
    generalized: centroids come from a bounded sample regardless of corpus
    size.

    ``method="sample"`` (default) is a seeded uniform ``takeSample`` over
    ALL partitions — ``limit().collect()`` reads the first partitions only,
    which on partition-correlated corpora (time-ordered crawls) biases
    centroids and silently degrades IVF recall. It is seeded but still
    partition-layout-dependent. ``method="hash"`` instead takes the
    ``sample_rows`` smallest md5(id) rows: hash order decorrelates from
    partition/time order like a uniform sample, but the selection is a pure
    function of the ids — bit-identical across runs, partitionings and
    engines (the repo's deterministic-sampling primitive, cf. curation
    ``_sample_hash``). Use it when downstream results must be reproducible
    (e.g. the registered semantic_dedup query)."""
    if method == "hash":
        rows = (
            corpus.select(
                _as_double(F.col(vec_col)).alias("v"),
                F.md5(F.col(id_col).cast("string")).alias("_mh"),
            )
            .orderBy("_mh")
            .limit(sample_rows)
            .collect()
        )
    elif method == "sample":
        rows = (
            corpus.select(_as_double(F.col(vec_col)).alias("v"))
            .rdd.takeSample(False, sample_rows, seed)
        )
    else:
        raise ValueError(f"unknown method {method!r} (want 'sample' or 'hash')")
    if not rows:
        raise ValueError("fit_centroids: empty corpus")
    sample = np.asarray([r["v"] for r in rows])
    rng = np.random.RandomState(seed)
    k_eff = min(n_centroids, len(sample))
    # init="kmeans++" evens out cell sizes (measured [51..71] vs uniform's
    # skewed cells at 500×8) — the skew-resistant choice when mega-cells
    # would defeat IVF pruning at scale — but on weak-neighbor-structure
    # corpora it LOWERS recall at fixed nprobe (measured 0.89 → 0.79 at
    # nprobe=4): spread centroids spread a query's neighbors across more
    # cells. Default stays uniform; pick per corpus with the recall
    # harness.
    if init == "kmeans++":
        cents = _kmeanspp_init(sample, k_eff, rng)
    elif init == "uniform":
        cents = sample[rng.choice(len(sample), size=k_eff, replace=False)]
    else:
        raise ValueError(f"unknown init {init!r} (want 'uniform' or 'kmeans++')")
    for _ in range(iters):
        d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(len(cents)):
            members = sample[assign == j]
            if len(members):
                cents[j] = members.mean(0)
    return cents


def _nearest_centroids_expr(vec_col, cents: np.ndarray, n: int = 1):
    """Index array of the n nearest centroids — pure columns: one squared-
    distance expression per centroid, then array sort by distance."""
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        vec_col,
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, c in enumerate(cents)
        ]
    )
    return F.slice(F.transform(F.array_sort(dists), lambda s: s["i"]), 1, n)


from dataclasses import dataclass


@dataclass
class IvfIndex:
    """A built IVF index: centroids (driver-side, tiny) + the assigned
    corpus (vec_id, v, v_norm, cell). Build once, query many — the fit and
    the corpus-assignment pass are the expensive part, and they are
    identical across queries."""

    centroids: np.ndarray
    assigned: DataFrame


def build_ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> IvfIndex:
    """Fit centroids (seeded takeSample) and assign every corpus vector to
    its nearest cell in one map-only pass."""
    cents = (
        centroids
        if centroids is not None
        else fit_centroids(corpus, n_centroids, vec_col=vec_col, id_col=id_col)
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    assigned = c.withColumn(
        "cell", _nearest_centroids_expr(F.col("v"), cents, 1)[0]
    ).withColumn("v_norm", _norm(F.col("v")))
    return IvfIndex(centroids=cents, assigned=assigned)


def write_ivf_index(index: IvfIndex, path: str) -> None:
    """Persist the assigned corpus PARTITIONED BY cell — a probe then reads
    only the matching cell directories (partition pruning), which is the
    on-disk form of 'the partition key IS the bucket'."""
    index.assigned.write.mode("overwrite").partitionBy("cell").parquet(path)


def load_ivf_index(spark, path: str, centroids: np.ndarray) -> IvfIndex:
    return IvfIndex(centroids=centroids, assigned=spark.read.parquet(path))


def ivf_index_topk(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a built index: each query probes its ``nprobe`` nearest cells,
    exact cosine re-rank inside the probed cells. No fitting, no corpus
    re-assignment — the serving path."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q")
    )
    # explode_OUTER: a plain explode would make InferFiltersFromGenerate
    # re-evaluate the full all-centroid distance expression two more times
    # per query row inside an inferred size()>0/isnotnull filter; outer
    # infers nothing, and a null cell can never match the equi-join below.
    q = q.withColumn(
        "cell",
        F.explode_outer(_nearest_centroids_expr(F.col("q"), index.centroids, nprobe)),
    ).withColumn("q_norm", _norm(F.col("q")))

    cand = index.assigned.join(F.broadcast(q), on="cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("v"), F.col("q")) / (F.col("v_norm") * F.col("q_norm"))
    scored = cand.select(
        "query_id", "vec_id", F.round(cos, 6).alias("cosine")
    ).dropDuplicates(["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned by nearest centroid, query
    probes its ``nprobe`` nearest cells, exact re-rank inside. One-shot
    convenience over build_ivf_index + ivf_index_topk — reuse the index for
    repeated queries."""
    index = build_ivf_index(
        corpus, n_centroids, id_col=id_col, vec_col=vec_col, centroids=centroids
    )
    return ivf_index_topk(index, queries, k=k, nprobe=nprobe, id_col=id_col, vec_col=vec_col)


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    max_df_frac: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All-pairs document similarity by TF-IDF cosine over an inverted
    index (the Bayardo et al. 2007 "Scaling Up All Pairs" shape): tokenize,
    weight with the sklearn-smoothed idf, L2-normalize per document, then
    self-join POSTING LISTS on the term and sum weight products per pair —
    never a doc x doc cross join. Pairs are emitted once (id_a < id_b) with
    cosine >= ``threshold``.

    Scale levers, in order of importance:

    - ``max_df_frac`` drops terms appearing in more than that fraction of
      documents BEFORE the self-join. Posting-list self-join cost is
      sum(df^2) over terms; stopword-grade terms dominate that sum while
      contributing almost nothing to any pair's cosine (their idf ~ 1 vs
      norm over the whole doc). This is the df-cut half of the canonical
      prefix-filter; the full per-doc prefix filter would prune further at
      the cost of a per-doc weight sort.
    - The posting join carries only (term, id, w_norm) — 3 fixed-width
      columns, payload-free; document text never enters the shuffle.
    - The pair aggregate is a plain hash agg on (id_a, id_b); candidate
      count is bounded by sum(df^2) of SURVIVING terms.

    Cross-engine determinism: weights are rounded to 9 dp before the
    product-sum and the cosine to 6 dp after, absorbing last-ulp ln/sqrt
    differences (same policy as tfidf_top_terms)."""
    from ningaloo_turtle_etl_spark.operators.text import tokens

    pairs = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    docfreq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + F.lit(1.0)
    weighted = (
        pairs.join(docfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            (F.col("tf") * idf).alias("w"),
            (F.col("df") / F.col("n_docs")).alias("df_frac"),
        )
    )
    # L2 norm over ALL the doc's terms (cosine stays exact); the df cut
    # applies only to which terms may generate candidates.
    norm = weighted.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("l2"))
    posting = (
        weighted.filter(F.col("df_frac") <= float(max_df_frac))
        .join(norm, on="id")
        .select("term", "id", F.round(F.col("w") / F.col("l2"), 9).alias("wn"))
    )
    a = posting.select(
        "term", F.col("id").alias("id_a"), F.col("wn").alias("w_a")
    )
    b = posting.select(
        "term", F.col("id").alias("id_b"), F.col("wn").alias("w_b")
    )
    return (
        a.join(b, on="term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.round(F.sum(F.col("w_a") * F.col("w_b")), 6).alias("cosine"))
        .filter(F.col("cosine") >= float(threshold))
    )


def label_centroids(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label centroid as a LONG (label, pos, c) table — elementwise
    mean via one posexplode + (label, pos)-keyed avg with map-side
    combine. The long form stays distributed and feeds joins; collect to
    an array only at a driver boundary."""
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("pos", "v"),
    )
    return ex.groupBy("label", "pos").agg(F.avg("v").alias("c"))


def label_centroid_cosine(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Pairwise cosine similarity between label centroids — the embedding
    diagnostic for class separation (near-1 off-diagonal = labels the
    embedding can't tell apart; the go/no-go check before trusting
    semantic dedup or an ANN-backed classifier on the space).

    Output: one row per unordered label pair — ``(label_a, label_b,
    cosine)``.

    Scale shape: the corpus is touched once by the centroid pass; every
    join after that is on the labels x dims centroid table (hundreds of
    rows), broadcast by AQE. No label-pair computation ever sees raw
    vectors."""
    cent = label_centroids(df, vec_col, label_col)
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a, b = cent.alias("a"), cent.alias("b")
    dots = (
        a.join(
            b,
            on=[
                F.col("a.pos") == F.col("b.pos"),
                F.col("a.label") < F.col("b.label"),
            ],
        )
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    return (
        dots.join(na, F.col("label_a") == F.col("na.label"))
        .join(nb, F.col("label_b") == F.col("nb.label"))
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dot") / (F.col("na.nrm") * F.col("nb.nrm")), 6
            ).alias("cosine"),
        )
    )


def hard_negatives(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchors: DataFrame | None = None,
) -> DataFrame:
    """Contrastive hard-negative mining: for every anchor vector, the top-k
    most cosine-similar vectors carrying a DIFFERENT label — the pairs a
    contrastive/metric-learning objective learns the most from, and the
    standard probe for label noise (a 0.99-cosine cross-label pair is
    usually a mislabel).

    ``anchors`` defaults to the corpus itself (all-pairs mining); pass a
    small frame to mine against a probe set.

    Output: ``(query_id, vec_id, label_a, label_b, cosine, rank)``.

    Scale shape: same as brute-force cosine top-k — anchors broadcast,
    corpus streams map-side, per-anchor top-k via the rank-limit window
    (WindowGroupLimit pre-trims before the shuffle). The label filter
    rides the broadcast join, so cross-label pruning happens before any
    scoring. At corpus x corpus scale swap the broadcast for the
    LSH/IVF-blocked candidate pass and keep this verify stage."""
    c = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label_b"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("v_norm", _norm(F.col("v")))
    src = anchors if anchors is not None else df
    q = src.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("label_a"),
        _as_double(F.col(vec_col)).alias("q"),
    ).withColumn("q_norm", _norm(F.col("q")))

    joined = c.crossJoin(F.broadcast(q)).filter(
        F.col("label_b") != F.col("label_a")
    )
    cos = _dot(F.col("v"), F.col("q")) / (F.col("v_norm") * F.col("q_norm"))
    scored = joined.select(
        "query_id", "vec_id", "label_a", "label_b", F.round(cos, 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= int(k)
    )


def cell_silhouette(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell simplified (centroid-based) silhouette for a k-means
    blocking: for every vector, a = distance to its own centroid, b =
    distance to the nearest OTHER centroid, s = (b - a) / max(a, b) in
    [-1, 1]. Cells with low mean s leak near-dups across the cell
    boundary (SemDeDup's documented miss) and under-probe in IVF — this
    is the diagnostic that says whether n_centroids / nprobe need
    raising BEFORE recall quietly drops.

    Output: one row per cell — (cell, n_vectors, mean_silhouette,
    mean_intra_dist), 6dp.

    Scale shape: one map-only pass (distances to the broadcast centroid
    literals in element order — bit-reproducible cross-engine), then a
    map-side-combined aggregate to the n_centroids grid. The corpus is
    touched once; the classic full silhouette needs all-pairs and is the
    reason this centroid form is the one that scales."""
    cents = np.asarray(centroids, dtype=float)
    k = len(cents)
    if k < 2:
        raise ValueError("cell_silhouette needs >= 2 centroids")
    v = _as_double(F.col(vec_col))
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in cents
        ]
    )
    a2 = F.array_min(F.col("_dists"))
    # array_position ties to the LOWEST index — same as the assignment's
    # list_position(list_min) convention in the oracle.
    cell = (F.array_position(F.col("_dists"), a2) - 1).cast("int")
    rest = F.concat(
        F.slice(F.col("_dists"), 1, F.col("_cell")),
        F.slice(
            F.col("_dists"),
            F.col("_cell") + 2,
            F.lit(k) - F.col("_cell") - 1,
        ),
    )
    b2 = F.array_min(rest)
    sa, sb = F.sqrt(F.col("_a2")), F.sqrt(F.col("_b2"))
    s = F.when(
        F.greatest(sa, sb) > 0, (sb - sa) / F.greatest(sa, sb)
    ).otherwise(F.lit(0.0))
    scored = (
        df.select(F.col(id_col), dists.alias("_dists"))
        .withColumn("_a2", a2)
        .withColumn("_cell", cell)
        .withColumn("_b2", b2)
        .withColumn("_s", s)
    )
    return scored.groupBy(F.col("_cell").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("_s"), 6).alias("mean_silhouette"),
        F.round(F.avg(F.sqrt(F.col("_a2"))), 6).alias("mean_intra_dist"),
    )


def embedding_drift(
    df: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift per group between two deterministic halves
    of the corpus (md5 parity of the id — retry-stable, oracle-replayable
    stand-in for 'previous vs current snapshot'; pass pre-split frames
    through ``group_col`` when real snapshots exist): the cosine between
    the two halves' MEAN vectors, plus the mean-vector L2 shift. Text
    drift monitors (`corpus_drift_metrics`) see vocabulary change; this
    sees semantic change the vocabulary hides — an embedding model
    upgrade, a topic shift, a scraper feeding different content under
    the same words.

    Output: one row per group — (group, n_a, n_b, centroid_cosine,
    centroid_shift), 6dp. Cosine near 1 = stable; the alert threshold is
    a product decision.

    Scale shape: the vector explodes to (group, half, dim-index, value)
    rows map-only; the per-dimension sum combines map-side, so the
    shuffle carries 2·groups·dim partial-sum rows regardless of corpus
    size; reassembly collects the DIM-sized (bounded, ~64-1536) sum list
    per (group, half); the cosine math runs on the groups grid. The
    corpus is touched once."""
    v = _as_double(F.col(vec_col))
    half = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    ).alias("half")
    ex = df.select(
        F.col(group_col).alias("grp"), half, F.posexplode(v).alias("idx", "x")
    )
    dim_sums = ex.groupBy("grp", "half", "idx").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("c")
    )
    sums = dim_sums.groupBy("grp", "half").agg(
        F.max("c").alias("n"),
        F.array_sort(F.collect_list(F.struct("idx", "s"))).alias("_sl"),
    )
    mean = sums.select(
        "grp",
        "half",
        "n",
        F.transform("_sl", lambda t: t["s"] / F.col("n")).alias("m"),
    )
    a = mean.filter(F.col("half") == 0).select(
        "grp", F.col("n").alias("n_a"), F.col("m").alias("ma")
    )
    b = mean.filter(F.col("half") == 1).select(
        "grp", F.col("n").alias("n_b"), F.col("m").alias("mb")
    )
    j = a.join(b, on="grp")
    dot = F.aggregate(
        F.zip_with("ma", "mb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform("ma", lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform("mb", lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    shift = F.sqrt(
        F.aggregate(
            F.zip_with("ma", "mb", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return j.select(
        F.col("grp").alias(group_col),
        "n_a",
        "n_b",
        F.round(dot / (na * nb), 6).alias("centroid_cosine"),
        F.round(shift, 6).alias("centroid_shift"),
    )


def ann_recall_report(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    item_col: str = "vec_id",
    ndigits: int = 6,
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact top-k
    ground truth — the acceptance metric every ANN index (LSH / IVF / PQ)
    must publish before replacing a brute-force scan. Both inputs are
    (query, item) frames as produced by :func:`lsh_topk` / :func:`ivf_topk`
    and :func:`cosine_topk`; rows beyond the intended k should be filtered
    by the caller (the top-k operators already do).

    Per query: ``n_exact`` (ground-truth size — may be below k when the
    corpus is small), ``n_hit`` (ground-truth items the approximate result
    recovered), ``recall_at_k``. Queries the approximate index missed
    entirely surface with n_hit = 0, not silently dropped.

    Scale shape: one semi-join keyed (query, item) and two query-grain hash
    aggregates — evaluation cost is O(result sizes), never O(corpus), so
    the report stays cheap even when the index under test covers billions
    of vectors."""
    e = exact.select(F.col(query_col).alias("_q"), F.col(item_col).alias("_i"))
    a = approx.select(
        F.col(query_col).alias("_q"), F.col(item_col).alias("_i")
    )
    tot = e.groupBy("_q").agg(F.count(F.lit(1)).alias("n_exact"))
    hit = (
        e.join(a, on=["_q", "_i"], how="left_semi")
        .groupBy("_q")
        .agg(F.count(F.lit(1)).alias("_nh"))
    )
    return (
        tot.join(hit, on="_q", how="left")
        .select(
            F.col("_q").alias(query_col),
            "n_exact",
            F.coalesce("_nh", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("_nh", F.lit(0)) / F.col("n_exact"), ndigits
            ).alias("recall_at_k"),
        )
    )


# --- Johnson-Lindenstrauss random projection --------------------------------
def _jl_matrix(dim: int, out_dim: int, seed: int = 7) -> np.ndarray:
    """Seeded Achlioptas ±1 sign matrix scaled by 1/√out_dim — the
    database-friendly JL construction (Achlioptas 2003): integer signs
    mean the projection is a plain weighted sum, and the deterministic
    seed means any engine regenerates the identical matrix (no fixture
    file — same contract as the LSH hyperplanes)."""
    rng = np.random.RandomState(seed)
    signs = rng.randint(0, 2, size=(out_dim, dim)) * 2 - 1
    return signs.astype(np.float64) / np.sqrt(float(out_dim))


def jl_project(
    corpus: DataFrame,
    out_dim: int = 16,
    seed: int = 7,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection of an embedding column to
    ``out_dim`` dimensions: with k = O(ln n/ε²) the pairwise distances of
    any n points survive within 1±ε — the dimensionality squeeze that cuts
    ANN index storage and distance-compute cost 4-8× BEFORE IVF/PQ ever
    run, with a guarantee that needs no training data (contrast the
    fitted PQ codebooks). Map-only: each output coordinate is one
    zip_with fold against a broadcast literal row of the seeded ±1/√k
    matrix — zero shuffles at any corpus size; the seeded construction
    replays in the DuckDB oracle with no fixture.

    Returns (id, jl array<double>). Pick out_dim with
    the distortion report (the registered ``jl_distortion_pairs`` query
    is the acceptance harness).

    Every row's vector length is validated against ``dim`` (inferred
    from the first row when not supplied): a ragged corpus would
    otherwise silently truncate (longer vectors) or NULL-out (shorter —
    zip_with pads with NULL) coordinates and corrupt every distance
    downstream, so a mismatched row fails the job with a descriptive
    error instead."""
    if dim is None:
        first = corpus.select(F.size(vec_col).alias("d")).first()
        if first is None:
            raise ValueError("jl_project: empty corpus")
        dim = int(first["d"])
    if out_dim < 1 or out_dim > dim:
        raise ValueError("out_dim must be in [1, dim]")
    m = _jl_matrix(dim, out_dim, seed)
    v = _as_double(F.col(vec_col))
    coords = [
        _dot(v, F.array(*[F.lit(float(x)) for x in m[j]]))
        for j in range(out_dim)
    ]
    # assert_true rides inside the output column so Catalyst cannot prune
    # it; it returns NULL on pass, raises on the first ragged row.
    guard = F.assert_true(
        F.size(v) == F.lit(int(dim)),
        F.concat(
            F.lit(f"jl_project: vector length != dim={dim} for id "),
            F.col(id_col).cast("string"),
        ),
    )
    return corpus.select(
        F.col(id_col).alias("vec_id"),
        F.when(guard.isNull(), F.array(*coords)).alias("jl"),
    )


def margin_bitext_pairs(
    df_a: DataFrame,
    df_b: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_side: str = "b",
) -> DataFrame:
    """Margin-based bitext / parallel-pair mining (Artetxe & Schwenk
    2019, the LASER mining criterion): for each vector x on side A, its
    best cosine candidate y* on side B is kept only when the RATIO
    margin(x, y*) = cos(x, y*) / ((avg top-k cos(x, ·_B) +
    avg top-k cos(y*, ·_A)) / 2) clears ``threshold`` — absolute cosine
    alone over-mines hubs (vectors near everything) and under-mines
    sparse regions; dividing by each side's local top-k neighborhood
    density normalizes both away. THE standard recipe for mining
    translation pairs / cross-source aligned samples from two embedding
    spaces.

    Returns (id_a, id_b, cosine, margin), one row per A-vector whose
    best candidate clears the margin (forward mining); 6dp outputs, the
    threshold gates the unrounded margin.

    Scale shape: this is the exact verify stage — A×B scored with a
    broadcast nested-loop join; ``broadcast_side`` declares which input
    fits in executor memory ('b' default: pass the SMALLER corpus as
    ``df_b``; 'a' flips the hint; 'auto' drops the hint and lets the
    planner/AQE pick from size estimates). Per-side top-k is rank-limit
    windows (WindowGroupLimit trims before the shuffle). At corpus×corpus scale
    generate candidates with the LSH/IVF blocks first (ann_* operators)
    and feed the candidate pairs through this same margin math; the
    criterion only ever needs each vector's local top-k, which the
    blocked pass already yields."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if broadcast_side not in ("a", "b", "auto"):
        raise ValueError("broadcast_side must be 'a', 'b', or 'auto'")
    a = df_a.select(
        F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("va")
    ).withColumn("na", _norm(F.col("va")))
    b = df_b.select(
        F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("vb")
    ).withColumn("nb", _norm(F.col("vb")))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    if broadcast_side == "a":
        a = F.broadcast(a)
    elif broadcast_side == "b":
        b = F.broadcast(b)
    scored = a.crossJoin(b).select("id_a", "id_b", cos.alias("cos"))
    wa = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    wb = Window.partitionBy("id_b").orderBy(F.desc("cos"), F.asc("id_a"))
    ranked = scored.withColumn("ra", F.row_number().over(wa)).withColumn(
        "rb", F.row_number().over(wb)
    )
    dx = (
        ranked.filter(F.col("ra") <= k)
        .groupBy("id_a")
        .agg(F.avg("cos").alias("dx"))
    )
    dy = (
        ranked.filter(F.col("rb") <= k)
        .groupBy("id_b")
        .agg(F.avg("cos").alias("dy"))
    )
    margin = F.col("cos") / ((F.col("dx") + F.col("dy")) / F.lit(2.0))
    return (
        ranked.filter(F.col("ra") == 1)
        .join(dx, on="id_a")
        .join(dy, on="id_b")
        .filter(margin >= F.lit(float(threshold)))
        .select(
            "id_a",
            "id_b",
            F.round("cos", 6).alias("cosine"),
            F.round(margin, 6).alias("margin"),
        )
    )


def rbo_coefficients(p: float, depth: int) -> list:
    """c_m = Σ_{d=m..depth} p^(d-1)/d — the contribution of a shared item
    whose worse rank is m to the truncated RBO sum. Shared by the Spark
    literals and the oracle SQL so both engines fold identical doubles."""
    return [
        sum(p ** (d - 1) / d for d in range(m, depth + 1))
        for m in range(1, depth + 1)
    ]


def rank_biased_overlap(
    ranks_a: DataFrame,
    ranks_b: DataFrame,
    p: float = 0.9,
    depth: int = 10,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Truncated rank-biased overlap (Webber, Moffat & Zobel 2010)
    between two per-query rankings:

        rbo@depth = (1−p) · Σ_{d=1..depth} p^(d−1) · |A_d ∩ B_d| / d

    — the TOP-WEIGHTED ranking-similarity metric that recall@k cannot
    be: recall treats a hit at rank 1 and rank 10 identically, but an
    ANN index that finds the right items in the wrong ORDER degrades
    downstream re-ranking budgets, and RBO sees that. p sets the
    top-weighting (0.9 ≈ the top ~10 ranks carry most mass); the
    truncated sum is the standard evaluation form (no extrapolation
    residual — deterministic, replayable). Output per query (every
    query in ``ranks_a``): (query, n_shared, rbo), 6dp.

    Scale shape: the depth-d intersection sizes are never materialized —
    each shared item with ranks (ra, rb) contributes the precomputed
    coefficient c_{max(ra,rb)} (it is inside both prefixes for every
    d ≥ max), so the whole metric is one (query, id) equi-join over the
    depth-truncated rankings plus a per-query sum of broadcast literal
    coefficients."""
    if not 0 < p < 1:
        raise ValueError("p must be in (0, 1)")
    if depth < 1:
        raise ValueError("depth must be >= 1")
    coeffs = rbo_coefficients(float(p), int(depth))
    a = ranks_a.filter(F.col(rank_col) <= depth).select(
        F.col(query_col).alias("q"),
        F.col(id_col).alias("i"),
        F.col(rank_col).alias("ra"),
    )
    b = ranks_b.filter(F.col(rank_col) <= depth).select(
        F.col(query_col).alias("q"),
        F.col(id_col).alias("i"),
        F.col(rank_col).alias("rb"),
    )
    carr = F.array(*[F.lit(float(c)) for c in coeffs])
    shared = a.join(b, on=["q", "i"]).select(
        "q",
        F.element_at(carr, F.greatest("ra", "rb").cast("int")).alias("_c"),
    )
    per_q = shared.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_shared"),
        F.sum("_c").alias("_s"),
    )
    queries = ranks_a.select(F.col(query_col).alias("q")).distinct()
    return (
        queries.join(per_q, on="q", how="left")
        .select(
            F.col("q").alias(query_col),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.round(
                F.lit(1.0 - float(p)) * F.coalesce("_s", F.lit(0.0)), 6
            ).alias("rbo"),
        )
    )


def _recenter_micro(s: int, n: int) -> int:
    """Exact half-up integer recentering floor(s/n + 1/2) = (2s + n) //
    (2n) in arbitrary-precision Python ints (// IS floor division) —
    the quantize.py _lloyd_micro_rounds convention, mirrored by the
    kmeans oracle's explicit floor-div CTE. r14 replaces the float form
    floor(s/n + 0.5), whose parity with any oracle was only guaranteed
    while |s| < 2^53 (~9e15 micro-units — 1e9 rows × 1e6 |x| sits AT
    that edge); the exact form has no cliff. Boundary-pinned (vs the
    float form's divergence AND vs the DuckDB oracle idiom) by
    tests/test_llm_ops.py::test_kmeans_recenter_exact_past_double_cliff."""
    return (2 * int(s) + int(n)) // (2 * int(n))


def kmeans_lloyd(
    corpus: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """DISTRIBUTED Lloyd k-means over an embedding column — the clustering
    stage a curation pipeline runs before SemDeDup cell dedup, diversity
    sampling, or IVF index builds. Unlike ``fit_centroids`` (the IVF
    builder: numpy Lloyd on a bounded driver SAMPLE), this one never
    samples: every assignment pass scans the full corpus map-side against
    k broadcast-literal centroids, and every update is one map-side-
    combined aggregate — the shape that holds at 10^9 vectors, where a
    sample-fit can misplace small clusters.

    Determinism across engines (the repo's integer-micro convention):
    vectors quantize ONCE to integer micro-units (round(x·1e6)); all
    distances are exact-integer sums of squared micro deltas, so argmin
    ties break identically everywhere; centroid updates are exact integer
    per-coordinate sums divided once, re-quantized via floor(s/n + 0.5).
    Summation order can never move a result — the whole fit replays
    bit-for-bit in the unrolled DuckDB oracle. Init = the vectors of the
    k smallest ids (deterministic, resumable); a cluster that goes empty
    keeps its previous centroid.

    Returns one row per cluster after ``iterations`` update rounds plus a
    final assignment: (cluster, n_vecs, inertia) — inertia is the summed
    squared euclidean distance in original units (micro² / 1e12), 6dp.

    Scale shape: per iteration, ONE corpus scan (k distance expressions
    inlined — no join, no shuffle of vectors) + ONE map-side-combined
    aggregate to k·(dim+1) cells; driver state is k×dim ints. The
    quantized frame is persisted across the iterations+1 passes and
    released before returning (bounded collects only)."""
    if k < 1 or iterations < 1:
        raise ValueError("k and iterations must be >= 1")
    import math

    vm = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * 1e6, 0).cast("long")
    )
    base = corpus.select(F.col(id_col).alias("id"), vm.alias("vm"))
    if dim is None:
        first = base.select(F.size("vm").alias("d")).first()
        if first is None:
            raise ValueError("kmeans_lloyd: empty corpus")
        dim = int(first["d"])
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        init_rows = base.orderBy("id").limit(k).collect()
        if len(init_rows) < k:
            raise ValueError(
                f"kmeans_lloyd: k={k} exceeds corpus size {len(init_rows)}"
            )
        cents = [list(r["vm"]) for r in init_rows]

        # r13: the assignment+sum scans run as the shared Arrow grid pass
        # (quantize._lloyd_grid_rows at m=1 grain) — the inlined
        # aggregate(zip_with(...)) distance folds were CodegenFallback and
        # paid k interpreted lambda folds per row; the numpy batch form
        # computes the same exact int64 distances with the identical
        # first-min tie rule, the same per-cluster exact integer sums, and
        # the same map-side-combined grid exchange. The float-division
        # update below is untouched (it is what the oracle mirrors).
        from ningaloo_turtle_etl_spark.operators.quantize import (
            _lloyd_grid_rows,
        )

        for _ in range(int(iterations)):
            sums = _lloyd_grid_rows(base, [cents], 1, k, dim)
            # bounded: <= k rows of dim+2 ints
            got = {
                # r14: exact integer half-up recentering (see
                # _recenter_micro — no 2^53 float cliff, same convention
                # as quantize.py _lloyd_micro_rounds, mirrored by the
                # kmeans oracle's explicit floor-div CTE)
                int(r["code"]): [
                    _recenter_micro(r[f"s{i}"], r["n"]) for i in range(dim)
                ]
                for r in sums
            }
            cents = [got.get(j, cents[j]) for j in range(k)]

        # Final assignment: same grid pass with the exact integer distance
        # sum folded per cluster (the |v|² term the argmin score drops is
        # re-added before summing), then the SAME Spark-side round as
        # before — the summed integer is identical, so round(dsum/1e12, 6)
        # is bit-identical.
        frows = _lloyd_grid_rows(base, [cents], 1, k, dim, with_dist=True)
        rows = [
            (int(r["code"]), int(r["n"]), int(r["dsum"])) for r in frows
        ]
    finally:
        base.unpersist()
    spark = corpus.sparkSession
    return (
        spark.createDataFrame(
            rows, "cluster int, n_vecs long, dsum long"
        )
        .select(
            "cluster",
            "n_vecs",
            F.round(F.col("dsum") / F.lit(1e12), 6).alias("inertia"),
        )
        .orderBy("cluster")
    )


def mf_gd_factors(
    ratings: DataFrame,
    iterations: int = 3,
    lr: float = 0.0625,
    user_col: str = "user_id",
    item_col: str = "item_id",
    rating_col: str = "rating",
) -> DataFrame:
    """DISTRIBUTED rank-1 matrix-factorization training (Funk-SVD first
    factor) by synchronous full-batch gradient descent — a recsys /
    preference-model trainer: learn p_u, q_i minimizing
    Σ (r_ui − p_u·q_i)² without MLlib.

    Per round (all updates read the ROUND-START factors — synchronous,
    so the trajectory is partition-order-free):

        e_ui  = r_ui − p_u·q_i
        p_u  += lr · mean_i(e_ui · q_i)
        q_i  += lr · mean_u(e_ui · p_u)

    MEAN (not sum) gradients keep the step bounded by lr·|e|·|factor|
    regardless of a node's degree — a power-law user with 10⁶ ratings
    takes the same-magnitude step as a cold one, so the fixed lr
    survives any scale. Determinism across engines (integer-nano
    gradients): each pair's gradient term rounds to integer nanos
    BEFORE the per-key exact-integer SUM, so summation order can never
    move a factor; everything else is plain double arithmetic in an
    operation order the oracle mirrors token-for-token. lr defaults to
    1/16 — exactly representable in binary, immune to how an engine
    parses decimal literals.

    Scale shape per round: one join of the ratings onto the two
    factor vectors (factor tables are entity-sized — broadcast when they
    fit, hash-join co-partitioned by key when they don't) and two
    map-side-combined aggregates; rounds are driver-counted with a
    localCheckpoint each (O(1) lineage, the connected_components
    convention).
    Returns ('cust'|'part'-style side labels via col names) — one row
    per user and per item: (side, id, factor, train_rmse), where
    train_rmse is the final-model fit over the training pairs."""
    r = ratings.select(
        F.col(user_col).alias("u"),
        F.col(item_col).alias("i"),
        F.col(rating_col).cast("double").alias("r"),
    ).persist()
    p = (
        r.select("u")
        .distinct()
        .select(
            "u",
            (
                F.lit(0.5)
                + (F.col("u") % 7).cast("double") / F.lit(10).cast("double")
            ).alias("pf"),
        )
        .localCheckpoint(eager=True)
    )
    q = (
        r.select("i")
        .distinct()
        .select(
            "i",
            (
                F.lit(0.5)
                + (F.col("i") % 11).cast("double") / F.lit(10).cast("double")
            ).alias("qf"),
        )
        .localCheckpoint(eager=True)
    )
    lrc = F.lit(float(lr))
    for _ in range(iterations):
        j = r.join(F.broadcast(p), on="u").join(F.broadcast(q), on="i")
        e = F.col("r") - F.col("pf") * F.col("qf")
        terms = j.select(
            "u",
            "i",
            F.round(e * F.col("qf") * F.lit(1e9), 0).cast("long").alias("tp"),
            F.round(e * F.col("pf") * F.lit(1e9), 0).cast("long").alias("tq"),
        )
        gp = terms.groupBy("u").agg(
            F.sum("tp").alias("g"), F.count(F.lit(1)).alias("n")
        )
        gq = terms.groupBy("i").agg(
            F.sum("tq").alias("g"), F.count(F.lit(1)).alias("n")
        )
        p = (
            p.join(gp, on="u")
            .select(
                "u",
                (
                    F.col("pf")
                    + lrc * ((F.col("g") / F.lit(1e9)) / F.col("n"))
                ).alias("pf"),
            )
            .localCheckpoint(eager=True)
        )
        q = (
            q.join(gq, on="i")
            .select(
                "i",
                (
                    F.col("qf")
                    + lrc * ((F.col("g") / F.lit(1e9)) / F.col("n"))
                ).alias("qf"),
            )
            .localCheckpoint(eager=True)
        )
    fit = r.join(F.broadcast(p), on="u").join(F.broadcast(q), on="i")
    err = F.col("r") - F.col("pf") * F.col("qf")
    sq = err * err
    rmse_row = fit.select(
        F.round(sq * F.lit(1e9), 0).cast("long").alias("t")
    ).agg(
        F.round(
            F.sqrt((F.sum("t") / F.lit(1e9)) / F.count(F.lit(1))), 6
        ).alias("train_rmse")
    )
    r.unpersist()
    out = (
        p.select(
            F.lit("user").alias("side"),
            F.col("u").alias("id"),
            F.round("pf", 6).alias("factor"),
        )
        .unionByName(
            q.select(
                F.lit("item").alias("side"),
                F.col("i").alias("id"),
                F.round("qf", 6).alias("factor"),
            )
        )
        .crossJoin(F.broadcast(rmse_row))
    )
    return out.orderBy("side", "id")


def ranking_metrics(
    ranked: DataFrame,
    labels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    cand_col: str = "vec_id",
    rank_col: str = "rank",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Retrieval-quality metrics over a ranked candidate list — the
    evaluation loop every embedding/ANN/CF stage needs: per query,
    NDCG@k, precision@k, MRR, and hit count, with relevance = "candidate
    shares the query's label" and the corpus-wide relevant count feeding
    the ideal DCG.

    Determinism: the 1/log2(rank+1) discount weights are INTEGER NANO
    LITERALS precomputed in Python (rank <= k, so there are k of them) —
    no engine ever calls log2, so no libm ulp can move a DCG; DCG and
    IDCG are exact integer sums/lookups and meet only in one final
    double division. Scale shape: one label join per side of the ranked
    list (candidate lists are k-bounded per query), one label-grain
    count for the relevant totals — nothing exceeds the ranked-list
    grain."""
    w = [int(round(1e9 / math.log2(i + 1))) for i in range(1, k + 1)]
    cum = []
    acc = 0
    for x in w:
        acc += x
        cum.append(acc)
    w_arr = F.array([F.lit(x) for x in w])
    cum_arr = F.array([F.lit(x) for x in cum])
    lab = labels.select(
        F.col(id_col).alias("_lid"), F.col(label_col).alias("_lab")
    )
    r = (
        ranked.select(
            F.col(query_col).alias("query_id"),
            F.col(cand_col).alias("cand_id"),
            F.col(rank_col).cast("int").alias("rank"),
        )
        .join(
            lab.select(
                F.col("_lid").alias("query_id"), F.col("_lab").alias("_qlab")
            ),
            on="query_id",
        )
        .join(
            lab.select(
                F.col("_lid").alias("cand_id"), F.col("_lab").alias("_clab")
            ),
            on="cand_id",
        )
        .withColumn(
            "rel", (F.col("_qlab") == F.col("_clab")).cast("int")
        )
    )
    perq = r.groupBy("query_id").agg(
        F.sum(F.col("rel") * F.element_at(w_arr, F.col("rank")))
        .cast("long")
        .alias("dcg_n"),
        F.sum("rel").cast("long").alias("hits_at_k"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("_first"),
    )
    counts = labels.groupBy(F.col(label_col).alias("_lab")).agg(
        F.count(F.lit(1)).cast("long").alias("_nl")
    )
    out = (
        perq.join(
            lab.select(
                F.col("_lid").alias("query_id"), F.col("_lab")
            ),
            on="query_id",
        )
        .join(F.broadcast(counts), on="_lab")
        .withColumn("n_rel_corpus", (F.col("_nl") - 1).cast("long"))
    )
    idcg = F.element_at(
        cum_arr, F.least(F.col("n_rel_corpus"), F.lit(k)).cast("int")
    )
    return out.select(
        "query_id",
        "n_rel_corpus",
        "hits_at_k",
        F.round(
            F.col("hits_at_k") / F.lit(k).cast("double"), 6
        ).alias("precision_at_k"),
        F.round(F.lit(1).cast("double") / F.col("_first"), 6).alias("mrr"),
        F.when(
            F.col("n_rel_corpus") > 0,
            F.round(F.col("dcg_n") / idcg.cast("double"), 6),
        ).alias("ndcg_at_k"),
    ).orderBy("query_id")


def _np_round_half_up_i64(y: np.ndarray) -> np.ndarray:
    """Bit-exact numpy reproduction of Spark's ``F.round(double, 0)
    .cast("long")`` — BigDecimal HALF_UP (round half AWAY FROM ZERO) on
    the double's decimal expansion. ``floor(y + 0.5)`` is NOT it (the
    classic 0.49999999999999994 case rounds up because y+0.5 itself
    rounds to 1.0); instead: for a = |y| >= 0, ``frac = a - floor(a)``
    is EXACT (the fractional bits are a suffix of a's significand, and
    IEEE subtraction is correctly rounded, so a representable exact
    result is returned exactly), and comparing that exact binary frac
    against 0.5 decides HALF_UP identically to the decimal comparison
    (for |y| < 2^52 every half-integer is representable, so the shortest
    -decimal expansion Spark's Round uses preserves ordering vs .5).
    The sign is re-applied afterwards because for NEGATIVE y the
    ``y - floor(y)`` subtraction crosses a binade and can lose the low
    bit (pinned by test_pca_round_half_up_matches_spark on the
    -0.49999999999999994 case, which a direct floor-based form gets
    wrong). Fuzz + adversarial parity with the real Spark expression is
    pinned in tests/test_llm_ops.py."""
    a = np.abs(y)
    r = np.floor(a)
    mag = (r + ((a - r) >= 0.5)).astype(np.int64)
    return np.where(y < 0, -mag, mag)


def _xm_matrix(batch, dim: int) -> np.ndarray:
    """The batch's ``xm`` list column as an (n, dim) int64 matrix. Raises
    ValueError on a NULL vector, a NULL element or a row whose length is
    not ``dim``: reshaping the flattened child would otherwise read a NULL
    slot as an arbitrary int64 and silently misalign ragged rows whose
    total length happens to divide by ``dim``."""
    import pyarrow.compute as pc

    col = batch.column(0)
    if col.null_count:
        raise ValueError("pca: xm has NULL vectors")
    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if (lengths != dim).any():
        raise ValueError(f"pca: every xm vector must have length {dim}")
    flat = col.flatten()
    if flat.null_count:
        raise ValueError("pca: xm has NULL elements")
    if len(flat) == 0:
        return np.zeros((0, dim), np.int64)
    return flat.to_numpy(zero_copy_only=False).reshape(-1, dim).astype(
        np.int64, copy=False
    )


def _pca_coord_sum_grid(base: DataFrame, dim: int, _frame_only: bool = False):
    """Per-coordinate exact int64 sums (and the row count) of the ``xm``
    micro-vector column as an Arrow partial grid: one ``mapInArrow``
    stage folds Σ_rows xm[j] per task plus a row-count cell, one tiny
    long-sum aggregate merges the per-task grids (guide §4.2 — replaces
    the posexplode → d-cell aggregate, which generated d rows per vector
    just to sum them, and §1.2 — the fused count cell saves the separate
    base.count() job). Exactness: int64 scatter sums merged by Spark's
    exact long sum — identical to the posexplode form's exact long sum.
    Only ``xm`` crosses the Python boundary (§4.1). Returns
    (sums[0..dim-1], n_rows)."""
    import pyarrow as pa

    pa_schema = pa.schema([("j0", pa.int32()), ("s", pa.int64())])

    def partials(it):
        acc = np.zeros(dim, np.int64)
        n = 0
        for batch in it:
            arr = _xm_matrix(batch, dim)
            if arr.size == 0:
                continue
            n += arr.shape[0]
            acc += arr.sum(axis=0)
        if n:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.arange(-1, dim, dtype=np.int32)),
                    pa.array(np.concatenate([[np.int64(n)], acc])),
                ],
                schema=pa_schema,
            )

    frame = (
        base.select("xm")
        .mapInArrow(partials, "j0 int, s long")
        .groupBy("j0")
        .agg(F.sum("s").alias("s"))
    )
    if _frame_only:
        return frame
    rows = frame.collect()
    sums = [0] * dim
    n_row = 0
    for r in rows:
        j = int(r["j0"])
        if j < 0:
            n_row = int(r["s"])
        else:
            sums[j] = int(r["s"])
    return sums, n_row


def _pca_cov_apply_grid(
    base: DataFrame, mu_m: list, v: list, dim: int, _frame_only: bool = False
):
    """ONE power-iteration pass w_raw[j] = Σ_i HALF_UP(sv_i·c_ij·1e6) as
    an Arrow partial grid — bit-exact to the Catalyst expression chain
    it replaced (guide §4.2: that chain was an interpreted zip_with +
    aggregate fold (CodegenFallback) per row plus a d-way posexplode):

      c_ij     = (xm_ij − µ_j)/1e6      exact int64 subtract, then the
                                        correctly-rounded long→double
                                        cast + double divide — identical
                                        to the zip_with (a−b)/1e6 form
      s_terms  = HALF_UP((c_ij·v_j)·1e6)  per element, exact BigDecimal
                                        HALF_UP tie rule (see
                                        _np_round_half_up_i64); same
                                        left-assoc multiply order as the
                                        cj*vj*lit(1e6) expression
      sv_i     = (Σ_j s_terms)/1e6      exact int64 sum, long→double
                                        cast + double divide
      g_ij     = HALF_UP((sv_i·c_ij)·1e6) per element
      partial  = Σ_i g_ij               int64 scatter-add per task

    merged by one exact long-sum aggregate (the same d-cell map-side-
    combined exchange shape as before — vectors never shuffle, only
    ``xm`` crosses the Python boundary). Equivalence is pinned by
    tests/test_llm_ops.py::test_pca_arrow_grid_matches_catalyst_reference
    on a .5-tie-exercising fixture. Returns the dim-long gw sums."""
    import pyarrow as pa

    mu = np.asarray(mu_m, dtype=np.int64)
    vv = np.asarray(v, dtype=np.float64)
    pa_schema = pa.schema([("j0", pa.int32()), ("gw", pa.int64())])

    def partials(it):
        acc = np.zeros(dim, np.int64)
        seen = False
        for batch in it:
            xm = _xm_matrix(batch, dim)
            if xm.size == 0:
                continue
            seen = True
            c = (xm - mu[None, :]).astype(np.float64) / 1e6
            s_terms = _np_round_half_up_i64((c * vv[None, :]) * 1e6)
            sv = s_terms.sum(axis=1).astype(np.float64) / 1e6
            acc += _np_round_half_up_i64((sv[:, None] * c) * 1e6).sum(
                axis=0
            )
        if seen:
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.arange(dim, dtype=np.int32)), pa.array(acc)],
                schema=pa_schema,
            )

    frame = (
        base.select("xm")
        .mapInArrow(partials, "j0 int, gw long")
        .groupBy("j0")
        .agg(F.sum("gw").alias("gw"))
    )
    if _frame_only:
        return frame
    rows = frame.collect()
    out = [0] * dim
    for r in rows:
        out[int(r["j0"])] = int(r["gw"])
    return out


def pca_power_components(
    corpus: DataFrame,
    n_components: int = 2,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``n_components`` principal components by power iteration with
    HOTELLING DEFLATION — the multi-eigenvector extension of
    :func:`pca_power_component` that the PCNM/RDA surface consumes
    (reference computes multi-axis ordinations; the driver-side scipy
    fallback in stats.py is hard-capped and cannot run at 10⁹ vectors).

    Component k starts from v0 = e_k and iterates w = C·v like the
    single-component path; deflation happens on the d-sized driver
    vector AFTER each distributed pass — w′ = w − Σ_{m<k} λ_m·(v_m·v)·v_m
    — so the 100 TB shape is unchanged: per round exactly one scan + one
    map-side-combined aggregate over the coordinate grain, a d-row
    collect, and O(p·d) driver arithmetic. The covariance is never
    materialized and no per-round join exists for any component.

    Determinism (the exact conventions the unrolled DuckDB oracle
    replays token-for-token): coordinates/mean/accumulations quantize as
    in pca_power_component; each deflation dot v_m·v quantizes its d
    products to integer MICROS (round half-away-from-zero — products can
    be negative) and sums them exactly; the per-dimension subtraction is
    wd − (λ_1·dot_1)·v_1[j] − (λ_2·dot_2)·v_2[j] … in component order,
    plain IEEE double both engines.

    Returns (component, dim_idx, loading, eigenvalue) — component =
    1..p, eigenvalue = that component's final Rayleigh-scale ‖C·v‖ —
    ordered by (component, dim_idx), loadings/eigenvalues rounded 6dp.
    Successive loadings are near-orthogonal (exactly orthogonal in the
    iteration limit; the orthogonality test pins |v_i·v_j| small).

    r14 (guide §4.2): the per-round covariance-apply pass runs as the
    Arrow partial grid ``_pca_cov_apply_grid`` — the previous form paid
    an interpreted zip_with+aggregate fold (CodegenFallback) per row
    plus a d-way posexplode per round, and materialized a second
    checkpointed frame (`cent`) just to hold the centered doubles. The
    Arrow stage computes the identical c/sv/HALF_UP-quantized terms
    bit-exactly from the ONE checkpointed micro frame (see
    _np_round_half_up_i64 / _pca_cov_apply_grid for the exactness
    argument), so the unrolled DuckDB oracle is untouched."""
    # localCheckpoint (not persist): severs the upstream lineage so the
    # driver does not re-analyze a potentially huge input plan on every
    # per-round job — the kmeans/connected_components O(1)-lineage
    # convention
    base = corpus.select(
        F.col(id_col).alias("vid"),
        F.transform(
            _as_double(F.col(vec_col)),
            lambda x: F.round(x * F.lit(1e6), 0).cast("long"),
        ).alias("xm"),
    ).localCheckpoint(eager=True)
    first = base.select(F.size("xm").alias("d")).first()
    spark = corpus.sparkSession
    if first is None:
        base.unpersist()
        return spark.createDataFrame(
            [],
            "component int, dim_idx int, loading double, eigenvalue double",
        )
    d = int(first["d"])
    p = max(1, min(int(n_components), d))
    # one Arrow grid pass: exact per-coordinate sums + the row count
    # (fuses the former base.count() job — guide §1.2)
    mu_sums, n_row = _pca_coord_sum_grid(base, d)
    mu_m = [_recenter_micro(s, n_row) for s in mu_sums]

    def _half_away(x: float) -> int:
        # round half away from zero, matching Spark F.round(x, 0) and
        # DuckDB round(x) on possibly-negative deflation products
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    comps: list[tuple[list[float], float]] = []  # (v_m, lambda_m)
    for k in range(p):
        v = [0.0] * d
        v[k] = 1.0
        norm = 1.0
        for _ in range(iterations):
            gw = _pca_cov_apply_grid(base, mu_m, v, d)
            wd = [(g / 1e6) / n_row for g in gw]  # the covariance 1/n
            # Hotelling deflation on the d-sized driver vector: remove
            # each prior component's contribution λ_m·(v_m·v)·v_m. The
            # dot quantizes to exact integer micros (sum order free);
            # the subtraction itself is sequential double, mirrored by
            # the oracle's wd − (λ·dot)·v_m[j] chain in the same order.
            for v_m, lam_m in comps:
                dot_i = 0
                for j in range(d):
                    dot_i += _half_away(v_m[j] * v[j] * 1e6)
                coef = lam_m * (dot_i / 1e6)
                for j in range(d):
                    wd[j] = wd[j] - coef * v_m[j]
            nsq = 0
            for x in wd:
                t = x * x * 1e6
                nsq += int(math.floor(t + 0.5))  # squared: non-negative
            norm = math.sqrt(nsq / 1e6)
            v = [x / norm for x in wd]
        comps.append((v, norm))

    rows = [
        (k + 1, j + 1, comps[k][0][j], comps[k][1])
        for k in range(p)
        for j in range(d)
    ]
    out = spark.createDataFrame(
        rows,
        "component int, dim_idx int, loading double, eigenvalue double",
    )
    return out.select(
        "component",
        "dim_idx",
        F.round("loading", 6).alias("loading"),
        F.round("eigenvalue", 6).alias("eigenvalue"),
    ).orderBy("component", "dim_idx")


def pca_power_component(
    corpus: DataFrame,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DISTRIBUTED top principal component by power iteration — the
    whitening/dimension-diagnostic stage next to kmeans_lloyd and
    jl_project, computed WITHOUT materializing the d×d covariance:
    each round applies the centered covariance to v as one map-side
    pass, s_i = (x_i − μ)·v / then w = (1/n)·Σ_i s_i (x_i − μ), and the
    d-row w is collected to the driver (the kmeans broadcast-centroid
    convention: a bounded d-sized collect per round) where it is
    normalized and re-embedded as LITERALS for the next round. No
    per-round join anywhere: a round costs exactly one scan + one
    map-side-combined aggregate over the coordinate grain — the shape
    that holds at 10⁹ vectors.

    Determinism (the kmeans integer conventions): coordinates quantize
    once to integer micros; the mean re-quantizes via the exact
    (2s + n) // (2n); every accumulation term rounds to integer MICROS before its
    exact-integer SUM (micro, not nano, so the per-key sums stay inside
    int64 at 10¹² terms — and w carries the 1/n of the covariance
    before squaring, so the norm terms never grow with n); driver-side
    arithmetic is plain IEEE double (division, sqrt — bit-identical on
    any engine), and all output rounding happens in Spark expressions.
    Init v0 = e_1. Returns one row per dimension (dim_idx, loading,
    eigenvalue) with the final ‖Σ·v‖ Rayleigh-scale estimate on every
    row; the whole trajectory replays bit-for-bit in the unrolled
    oracle."""
    import math

    # localCheckpoint (not persist): severs the upstream lineage so the
    # driver does not re-analyze a potentially huge input plan (unions,
    # deep pipelines) on every one of the per-round jobs — the same O(1)
    # lineage convention as kmeans/connected_components rounds
    base = corpus.select(
        F.col(id_col).alias("vid"),
        F.transform(
            _as_double(F.col(vec_col)),
            lambda x: F.round(x * F.lit(1e6), 0).cast("long"),
        ).alias("xm"),
    ).localCheckpoint(eager=True)
    first = base.select(F.size("xm").alias("d")).first()
    spark = corpus.sparkSession
    if first is None:
        base.unpersist()
        return spark.createDataFrame(
            [], "dim_idx int, loading double, eigenvalue double"
        )
    d = int(first["d"])
    # one Arrow grid pass: exact per-coordinate sums + the row count
    # (fuses the former base.count() job; see pca_power_components —
    # the r14 Arrow-grid rewrite, bit-exact, oracle untouched)
    mu_sums, n_row = _pca_coord_sum_grid(base, d)
    mu_m = [_recenter_micro(s, n_row) for s in mu_sums]
    v = [1.0] + [0.0] * (d - 1)
    norm = 1.0
    for _ in range(iterations):
        gw = _pca_cov_apply_grid(base, mu_m, v, d)
        wd = [(g / 1e6) / n_row for g in gw]  # the covariance 1/n
        nsq = 0
        for x in wd:
            t = x * x * 1e6
            nsq += int(math.floor(t + 0.5))  # wd >= 0 squared: half-up
        norm = math.sqrt(nsq / 1e6)
        v = [x / norm for x in wd]

    out = spark.createDataFrame(
        [(j + 1, v[j], norm) for j in range(d)],
        "dim_idx int, loading double, eigenvalue double",
    )
    return out.select(
        "dim_idx",
        F.round("loading", 6).alias("loading"),
        F.round("eigenvalue", 6).alias("eigenvalue"),
    ).orderBy("dim_idx")


def als_rank1_factors(
    ratings: DataFrame,
    iterations: int = 3,
    lam: float = 0.25,
    user_col: str = "user_id",
    item_col: str = "item_id",
    rating_col: str = "rating",
) -> DataFrame:
    """DISTRIBUTED rank-1 ALTERNATING LEAST SQUARES — the closed-form
    counterpart of :func:`mf_gd_factors` (same model Σ(r_ui − p_u·q_i)²,
    different optimizer): each half-step solves its side exactly given
    the other,

        p_u = Σ_i r_ui·q_i / (λ + Σ_i q_i²)
        q_i = Σ_u r_ui·p_u / (λ + Σ_u p_u²)

    (ridge λ keeps lonely entities finite), which converges in far fewer
    passes than GD and is embarrassingly parallel per entity — the
    reason ALS, not SGD, is the classic distributed recsys trainer.

    Entirely distributed: no driver-side state at all — factors live in
    entity-sized DataFrames; each half-step is one ratings⋈factor join
    (broadcast when the factor side fits, co-partitioned hash join when
    it doesn't) plus one map-side-combined aggregate, localCheckpoint
    per update (O(1) lineage). Determinism: the per-rating numerator
    and denominator terms round to integer NANOS before their exact-
    integer per-key SUMs (partition order can never move a factor);
    the division is plain double in an operation order the unrolled
    DuckDB oracle mirrors token-for-token. Init q_i = 0.5 + (i%7)/10
    (the mf_gd convention); λ defaults to 1/4, binary-exact.

    Returns one row per entity: (side 'user'|'item', id, factor,
    train_rmse) — factor 6dp, train_rmse the final-model fit (nano-
    quantized squared errors, exact mean, sqrt) shared on every row."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    r = ratings.select(
        F.col(user_col).alias("u"),
        F.col(item_col).alias("i"),
        F.col(rating_col).cast("double").alias("r"),
    ).persist()
    r.count()
    lam_l = F.lit(float(lam))

    def _nano_sum(term):
        return F.sum(F.round(term * F.lit(1e9), 0).cast("long"))

    q = (
        r.select("i")
        .distinct()
        .select(
            "i",
            (
                F.lit(0.5)
                + (F.col("i") % 7).cast("double") / F.lit(10).cast("double")
            ).alias("qf"),
        )
        .localCheckpoint(eager=True)
    )
    p = None
    try:
        for _ in range(int(iterations)):
            p = (
                r.join(q, on="i")
                .groupBy("u")
                .agg(
                    _nano_sum(F.col("r") * F.col("qf")).alias("num"),
                    _nano_sum(F.col("qf") * F.col("qf")).alias("den"),
                )
                .select(
                    "u",
                    (
                        (F.col("num") / F.lit(1e9))
                        / (lam_l + F.col("den") / F.lit(1e9))
                    ).alias("pf"),
                )
                .localCheckpoint(eager=True)
            )
            q = (
                r.join(p, on="u")
                .groupBy("i")
                .agg(
                    _nano_sum(F.col("r") * F.col("pf")).alias("num"),
                    _nano_sum(F.col("pf") * F.col("pf")).alias("den"),
                )
                .select(
                    "i",
                    (
                        (F.col("num") / F.lit(1e9))
                        / (lam_l + F.col("den") / F.lit(1e9))
                    ).alias("qf"),
                )
                .localCheckpoint(eager=True)
            )
        err = F.col("r") - F.col("pf") * F.col("qf")
        fit = (
            r.join(p, on="u")
            .join(q, on="i")
            .agg(
                _nano_sum(err * err).alias("se"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .select(
                F.sqrt(
                    (F.col("se") / F.lit(1e9)) / F.col("n")
                ).alias("train_rmse")
            )
        )
        users = p.select(
            F.lit("user").alias("side"),
            F.col("u").cast("long").alias("id"),
            F.col("pf").alias("factor"),
        )
        items = q.select(
            F.lit("item").alias("side"),
            F.col("i").cast("long").alias("id"),
            F.col("qf").alias("factor"),
        )
        out = (
            users.unionByName(items)
            .crossJoin(F.broadcast(fit))
            .select(
                "side",
                "id",
                F.round("factor", 6).alias("factor"),
                F.round("train_rmse", 6).alias("train_rmse"),
            )
            .orderBy("side", "id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        r.unpersist()
