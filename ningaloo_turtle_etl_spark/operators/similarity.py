"""Similarity and embedding-space operators over ``array<float>`` columns.

- ``cosine_topk`` — exact brute-force cosine top-k, result contract
  (query_id, vec_id, cosine, rank). The query set is broadcast; the
  corpus is scanned map-side; per-query top-k via ranked window — no
  all-pairs shuffle. The approximate IVF-PQ loop lives in
  ``operators/quantize.py``.
- Label centroids, hard negatives, embedding drift, margin bitext
  mining and deflated power-iteration PCA (``pca_power_components``).
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
    scoring. At corpus x corpus scale swap the broadcast for a blocked
    candidate pass (LSH buckets or trained IVF cells) and keep this
    verify stage."""
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
    drift monitors see vocabulary change; this sees semantic change the
    vocabulary hides — an embedding model upgrade, a topic shift, a
    scraper feeding different content under the same words.

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
    generate candidates with a blocked pass first (LSH buckets or
    trained IVF cells) and feed the candidate pairs through this same
    margin math; the criterion only ever needs each vector's local
    top-k, which the blocked pass already yields."""
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


def _recenter_micro(s: int, n: int) -> int:
    """Exact half-up integer recentering floor(s/n + 1/2) = (2s + n) //
    (2n) in arbitrary-precision Python ints (// IS floor division) — the
    one rounding rule of every integer-micro mean: the PCA mean here and
    the Lloyd update of ``quantize._lloyd_micro_rounds_multi``, mirrored
    by their oracles' explicit floor-div CTEs. The float form
    floor(s/n + 0.5) is only exact while |s| < 2^53 (~9e15 micro-units —
    1e9 rows × 1e6 |x| sits AT that edge); the exact form has no cliff.
    Boundary-pinned (vs the float form's divergence AND vs the DuckDB
    oracle idiom) by
    tests/test_llm_ops.py::test_recenter_micro_exact_past_double_cliff."""
    return (2 * int(s) + int(n)) // (2 * int(n))


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
    """Top-``n_components`` principal components by matrix-free power
    iteration with HOTELLING DEFLATION — the multi-eigenvector surface
    the PCNM/RDA modelling consumes (reference computes multi-axis
    ordinations; the driver-side scipy fallback in stats.py is
    hard-capped and cannot run at 10⁹ vectors). ``n_components=1`` is
    the plain top component.

    Component k starts from v0 = e_k and iterates w = C·v: each round
    applies the centered covariance to v as one map-side pass,
    s_i = (x_i − μ)·v, then w = (1/n)·Σ_i s_i (x_i − μ), and collects
    the d-row w to the driver, where it is deflated, normalized and
    re-embedded for the next round. Deflation happens on that d-sized
    driver vector — w′ = w − Σ_{m<k} λ_m·(v_m·v)·v_m — so the 100 TB
    shape is unchanged: per round exactly one scan + one map-side-
    combined aggregate over the coordinate grain, a d-row collect, and
    O(p·d) driver arithmetic. The covariance is never materialized and
    no per-round join exists for any component.

    Determinism (the exact conventions the unrolled DuckDB oracle
    replays token-for-token): coordinates quantize once to integer
    micros; the mean re-quantizes via the exact (2s + n) // (2n)
    (``_recenter_micro``); every accumulation term rounds to integer
    MICROS before its exact-integer SUM (micro, not nano, so the per-key
    sums stay inside int64 at 10¹² terms), and w carries the 1/n of the
    covariance before squaring; each deflation dot v_m·v quantizes its d
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
    # per-round job — the connected_components O(1)-lineage
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
