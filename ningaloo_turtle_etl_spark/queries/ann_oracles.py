"""DuckDB oracle SQL generators for the ANN registered queries (r04).

Every generator replays its Spark pipeline with the SAME constants — LSH
hyperplanes are regenerated from the seeded numpy rule at SQL-build time,
IVF centroids / scalar-quantizer ranges / PQ codebooks come from the frozen
fixtures scripts/fit_fixtures.py wrote — and the SAME float
arithmetic order: dot products, norms and squared-distance chains are
left-to-right folds over identical doubles in both engines (numpy's sums
over the ≤8-element sub-axes are sequential too), so bucket signs, argmin
cells, PQ codes and ADC shortlists are bit-identical, not merely close.
Only the displayed cosine/distance is rounded (6 dp), matching the Spark
side's display rounding.
"""

from __future__ import annotations

import json
import os

#: Shared query-set cut: every ANN query probes vec_id < 5 against the full
#: embeddings table.
QUERY_CUT = 5


def _fixture(name: str) -> dict:
    # One loader for every fixture (centroids and ANN params alike).
    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "fixtures", f"{name}.json"
    )
    with open(path) as f:
        return json.load(f)


def _vec_lit(values) -> str:
    return "[" + ", ".join(repr(float(x)) for x in values) + "]::DOUBLE[]"


def _dot_lit(vcol: str, values) -> str:
    """Dot product of a vector column against a literal array — list_zip +
    list_sum matches Spark's zip_with + left-fold bit-for-bit."""
    return (
        f"list_sum(list_transform(list_zip({vcol}, {_vec_lit(values)}), "
        "x -> x[1]*x[2]))"
    )


_NORM = "sqrt(list_sum(list_transform({0}, x -> x*x)))"
_DOT_VV = "list_sum(list_transform(list_zip({0}, {1}), x -> x[1]*x[2]))"


def lsh_oracle_sql(bits: int = 6, tables: int = 6, k: int = 3, seed: int = 7) -> str:
    """ann_lsh_topk: multi-table sign-bucket collisions + exact re-rank.
    Hyperplanes regenerated from the same seeded numpy rule the operator
    uses (deterministic, data-independent — no fixture file needed)."""
    from ningaloo_turtle_etl_spark.operators.similarity import _hyperplanes

    # Embedding width from the fixture metadata (recorded at fit time from
    # the same table): hard-coding it would silently desync the oracle's
    # hyperplanes from Spark's data-inferred ones if the testdata is ever
    # regenerated at another dimension.
    dim = int(_fixture("ivf_centroids")["dim"])
    table_rows = []
    for t in range(tables):
        planes = _hyperplanes(dim, bits, seed + 1000 * t)
        bucket = " + ".join(
            f"(CASE WHEN {_dot_lit('v', planes[i])} > 0 THEN {2 ** i} ELSE 0 END)"
            for i in range(bits)
        )
        table_rows.append(
            f"SELECT vec_id, v, vn, {t} AS t, {bucket} AS bk FROM base"
        )
    tables_sql = " UNION ALL ".join(table_rows)
    return f"""
    WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    base AS (SELECT vec_id, v, {_NORM.format('v')} AS vn FROM emb),
    banded AS ({tables_sql}),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id,
               ROUND({_DOT_VV.format('c.v', 'q.v')} / (c.vn * q.vn), 6) AS cosine
        FROM banded c JOIN banded q
          ON c.t = q.t AND c.bk = q.bk AND c.vec_id <> q.vec_id
        WHERE q.vec_id < {QUERY_CUT}
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS INTEGER)
                   AS rank
        FROM cand
    ) WHERE rank <= {k}
    """


def ivf_oracle_sql(nprobe: int = 3, k: int = 3) -> str:
    """ann_ivf_topk over the frozen ivf_centroids fixture: corpus rows join
    their argmin cell, queries probe their nprobe nearest cells (ties by
    cell index, like Spark's (dist, idx) struct sort), exact re-rank."""
    fix = _fixture("ivf_centroids")
    dists = ", ".join(
        "list_sum(list_transform(list_zip(v, "
        + _vec_lit(c)
        + "), x -> (x[1]-x[2])*(x[1]-x[2])))"
        for c in fix["centroids"]
    )
    n_cells = fix["n_centroids"]
    return f"""
    WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    base AS (
        SELECT vec_id, v, {_NORM.format('v')} AS vn, [{dists}] AS ds FROM emb
    ),
    assigned AS (
        SELECT vec_id, v, vn, list_position(ds, list_min(ds)) - 1 AS cell
        FROM base
    ),
    probed AS (
        SELECT vec_id AS query_id, v AS q, vn AS qn, cell FROM (
            SELECT vec_id, v, vn, i AS cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY ds[i + 1], i) AS pr
            FROM base, unnest(range({n_cells})) u(i)
            WHERE vec_id < {QUERY_CUT}
        ) WHERE pr <= {nprobe}
    ),
    cand AS (
        SELECT DISTINCT query_id, a.vec_id,
               ROUND({_DOT_VV.format('a.v', 'q')} / (a.vn * qn), 6) AS cosine
        FROM assigned a JOIN probed p ON a.cell = p.cell
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS INTEGER)
                   AS rank
        FROM cand
    ) WHERE rank <= {k}
    """


def quantized_oracle_sql(k: int = 3) -> str:
    """ann_quantized_topk over the frozen quantizer fixture: int8
    round-trip per element (round, clamp, midpoint-restore — the integer
    code makes the restore exact in both engines), then brute-force cosine
    against full-precision queries."""
    fix = _fixture("quantizer")
    lo, hi = fix["lo"], fix["hi"]
    restore = (
        "list_transform("
        f"list_zip(v, {_vec_lit(lo)}, {_vec_lit(hi)}), "
        "x -> greatest(least(round((x[1]-x[2])/(x[3]-x[2])*255.0), 255.0), 0.0)"
        " / 255.0 * (x[3]-x[2]) + x[2])"
    )
    return f"""
    WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    corpus AS (
        SELECT vec_id, r AS v, {_NORM.format('r')} AS vn
        FROM (SELECT vec_id, {restore} AS r FROM emb)
    ),
    q AS (
        SELECT vec_id AS query_id, v AS qv, {_NORM.format('v')} AS qn
        FROM emb WHERE vec_id < {QUERY_CUT}
    ),
    scored AS (
        SELECT query_id, c.vec_id,
               ROUND({_DOT_VV.format('c.v', 'qv')} / (c.vn * qn), 6) AS cosine
        FROM corpus c, q WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS INTEGER)
                   AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


def pq_oracle_sql(k: int = 3, rerank: int = 50) -> str:
    """ann_pq_topk over the frozen pq_codebooks fixture: per-subspace
    argmin encode, ADC shortlist (the LUT value is recomputed per pair —
    the same (q_sub − centroid)² chain numpy fills the LUT with, so the
    floats are identical), exact squared-L2 re-rank of the shortlist."""
    fix = _fixture("pq_codebooks")
    m, kcodes, d_sub = fix["m"], fix["k"], fix["d_sub"]
    books = fix["codebooks"]

    def sqdist(i: int, code: int) -> str:
        return " + ".join(
            f"(v[{i * d_sub + j + 1}] - {repr(float(books[i][code][j]))})"
            f"*(v[{i * d_sub + j + 1}] - {repr(float(books[i][code][j]))})"
            for j in range(d_sub)
        )

    encode = ", ".join(
        f"list_position([{', '.join(sqdist(i, c) for c in range(kcodes))}], "
        f"list_min([{', '.join(sqdist(i, c) for c in range(kcodes))}])) - 1"
        for i in range(m)
    )
    cb_lit = (
        "["
        + ", ".join(
            "[" + ", ".join(_vec_lit(code) for code in sub) + "]" for sub in books
        )
        + "]"
    )
    adc = " + ".join(
        "list_sum(list_transform(list_zip("
        f"q[{i * d_sub + 1}:{(i + 1) * d_sub}], cb[{i + 1}][code[{i + 1}] + 1]), "
        "x -> (x[1]-x[2])*(x[1]-x[2])))"
        for i in range(m)
    )
    return f"""
    WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    enc AS (
        SELECT vec_id, v, [{encode}] AS code FROM emb
    ),
    q AS (
        SELECT vec_id AS query_id, v AS q FROM emb WHERE vec_id < {QUERY_CUT}
    ),
    adc AS (
        SELECT query_id, e.vec_id, {adc} AS distance
        FROM enc e, q, (SELECT {cb_lit} AS cb) b
        WHERE e.vec_id <> q.query_id
    ),
    shortlist AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY distance, vec_id) AS r
            FROM adc
        ) WHERE r <= {rerank}
    ),
    exact AS (
        SELECT s.query_id, s.vec_id,
               list_sum(list_transform(list_zip(e.v, q.q),
                        x -> (x[1]-x[2])*(x[1]-x[2]))) AS distance
        FROM shortlist s
        JOIN emb e ON s.vec_id = e.vec_id
        JOIN q ON s.query_id = q.query_id
    )
    SELECT query_id, vec_id, ROUND(distance, 6) AS distance, rank FROM (
        SELECT query_id, vec_id, distance,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY distance, vec_id) AS INTEGER)
                   AS rank
        FROM exact
    ) WHERE rank <= {k}
    """


def ivf_pq_oracle_sql(k: int = 3, nprobe: int = 3, shortlist: int = 20) -> str:
    """ann_ivf_pq_topk — the fused three-tier serving pipeline replayed
    end-to-end from BOTH frozen fixtures: IVF cell assignment (argmin of
    the ivf_centroids chains) restricts candidates to each query's
    ``nprobe`` probed cells; the survivors score by the PQ/ADC chains
    (pq_codebooks LUT recomputed per pair, same float order); the ADC
    ``shortlist`` re-ranks exact squared-L2 and the final ``k`` come from
    the exact stage."""
    ivf = _fixture("ivf_centroids")
    pq = _fixture("pq_codebooks")
    dists = ", ".join(
        "list_sum(list_transform(list_zip(v, "
        + _vec_lit(c)
        + "), x -> (x[1]-x[2])*(x[1]-x[2])))"
        for c in ivf["centroids"]
    )
    n_cells = ivf["n_centroids"]
    m, kcodes, d_sub = pq["m"], pq["k"], pq["d_sub"]
    books = pq["codebooks"]

    def sqdist(i: int, code: int) -> str:
        return " + ".join(
            f"(v[{i * d_sub + j + 1}] - {repr(float(books[i][code][j]))})"
            f"*(v[{i * d_sub + j + 1}] - {repr(float(books[i][code][j]))})"
            for j in range(d_sub)
        )

    encode = ", ".join(
        f"list_position([{', '.join(sqdist(i, c) for c in range(kcodes))}], "
        f"list_min([{', '.join(sqdist(i, c) for c in range(kcodes))}])) - 1"
        for i in range(m)
    )
    cb_lit = (
        "["
        + ", ".join(
            "[" + ", ".join(_vec_lit(code) for code in sub) + "]" for sub in books
        )
        + "]"
    )
    adc = " + ".join(
        "list_sum(list_transform(list_zip("
        f"q[{i * d_sub + 1}:{(i + 1) * d_sub}], cb[{i + 1}][code[{i + 1}] + 1]), "
        "x -> (x[1]-x[2])*(x[1]-x[2])))"
        for i in range(m)
    )
    return f"""
    WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    base AS (SELECT vec_id, v, [{dists}] AS ds FROM emb),
    enc AS (
        SELECT vec_id, list_position(ds, list_min(ds)) - 1 AS cell,
               [{encode}] AS code
        FROM base
    ),
    probed AS (
        SELECT vec_id AS query_id, v AS q, cell FROM (
            SELECT vec_id, v, i AS cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY ds[i + 1], i) AS pr
            FROM base, unnest(range({n_cells})) u(i)
            WHERE vec_id < {QUERY_CUT}
        ) WHERE pr <= {nprobe}
    ),
    adc AS (
        SELECT p.query_id, e.vec_id, {adc} AS distance
        FROM enc e JOIN probed p ON e.cell = p.cell,
             (SELECT {cb_lit} AS cb) b
        WHERE e.vec_id <> p.query_id
    ),
    short AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY distance, vec_id) AS r
            FROM adc
        ) WHERE r <= {shortlist}
    ),
    qv AS (SELECT vec_id AS query_id, v AS q FROM emb
           WHERE vec_id < {QUERY_CUT}),
    exact AS (
        SELECT s.query_id, s.vec_id,
               list_sum(list_transform(list_zip(e.v, qv.q),
                        x -> (x[1]-x[2])*(x[1]-x[2]))) AS distance
        FROM short s
        JOIN emb e ON s.vec_id = e.vec_id
        JOIN qv ON s.query_id = qv.query_id
    )
    SELECT query_id, vec_id, ROUND(distance, 6) AS distance, rank FROM (
        SELECT query_id, vec_id, distance,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY distance, vec_id) AS INTEGER)
                   AS rank
        FROM exact
    ) WHERE rank <= {k}
    """


def brute_oracle_sql(k: int = 3) -> str:
    """Exact brute-force cosine top-k (the embedding_cosine_topk shape,
    parameterized k) — also the ground-truth half of the recall oracle."""
    dot = (
        "list_sum(list_transform(list_zip(CAST(c.embedding AS DOUBLE[]), "
        "CAST(q.embedding AS DOUBLE[])), x -> x[1]*x[2]))"
    )
    normsq = "list_sum(list_transform(CAST({0}.embedding AS DOUBLE[]), x -> x*x))"
    return f"""
    WITH pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               ROUND({dot} / (sqrt({normsq.format('c')}) * sqrt({normsq.format('q')})), 6)
                   AS cosine
        FROM embeddings c, embeddings q
        WHERE q.vec_id < {QUERY_CUT} AND c.vec_id <> q.vec_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS INT) AS rank
        FROM pairs
    ) WHERE rank <= {k}
    """


def lsh_recall_oracle_sql(k: int = 10, bits: int = 6, tables: int = 6) -> str:
    """ann_lsh_recall: recall@k of the LSH index against the brute-force
    ground truth — both halves are the existing oracles, composed."""
    return f"""
    WITH approx AS ({lsh_oracle_sql(bits=bits, tables=tables, k=k)}),
    exact AS ({brute_oracle_sql(k=k)}),
    tot AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM exact GROUP BY query_id
    ),
    hit AS (
        SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM exact e JOIN approx a
          ON e.query_id = a.query_id AND e.vec_id = a.vec_id
        GROUP BY e.query_id
    )
    SELECT t.query_id, n_exact,
           CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(n_hit, 0) * 1.0 / n_exact, 6) AS recall_at_k
    FROM tot t LEFT JOIN hit ON t.query_id = hit.query_id
    ORDER BY t.query_id
    """


def l2_brute_oracle_sql(k: int = 10) -> str:
    """Exact brute-force squared-L2 top-k (operators/similarity.py
    ``l2_topk``) — the ground-truth half of the PQ recall oracle. Same
    sequential (x-y)² fold as Spark's zip_with + aggregate."""
    return f"""
    WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < {QUERY_CUT}
    ),
    scored AS (
        SELECT query_id, c.vec_id,
               list_sum(list_transform(list_zip(c.v, qv),
                     x -> (x[1]-x[2])*(x[1]-x[2]))) AS distance
        FROM emb c, q WHERE c.vec_id <> q.query_id
    )
    -- rank by the UNROUNDED distance, round only the projected column —
    -- mirrors the Spark side (and pq_topk's exact re-rank policy)
    SELECT query_id, vec_id, ROUND(distance, 6) AS distance, rank FROM (
        SELECT query_id, vec_id, distance,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY distance, vec_id) AS INTEGER)
                   AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


def pq_recall_oracle_sql(k: int = 10, rerank: int = 50) -> str:
    """ann_pq_recall: recall@k of the PQ/ADC index (frozen codebooks, exact
    shortlist re-rank) against the exact squared-L2 ground truth — PQ ranks
    by L2, so L2 (not cosine) is the honest ground truth; same recall-report
    composition as the LSH/IVF recall oracles."""
    return f"""
    WITH approx AS ({pq_oracle_sql(k=k, rerank=rerank)}),
    exact AS ({l2_brute_oracle_sql(k=k)}),
    tot AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM exact GROUP BY query_id
    ),
    hit AS (
        SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM exact e JOIN approx a
          ON e.query_id = a.query_id AND e.vec_id = a.vec_id
        GROUP BY e.query_id
    )
    SELECT t.query_id, n_exact,
           CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(n_hit, 0) * 1.0 / n_exact, 6) AS recall_at_k
    FROM tot t LEFT JOIN hit ON t.query_id = hit.query_id
    ORDER BY t.query_id
    """


def ivf_recall_oracle_sql(k: int = 10, nprobe: int = 3) -> str:
    """ann_ivf_recall: recall@k of the IVF index against the brute-force
    ground truth — same composition as the LSH recall oracle."""
    return f"""
    WITH approx AS ({ivf_oracle_sql(nprobe=nprobe, k=k)}),
    exact AS ({brute_oracle_sql(k=k)}),
    tot AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM exact GROUP BY query_id
    ),
    hit AS (
        SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM exact e JOIN approx a
          ON e.query_id = a.query_id AND e.vec_id = a.vec_id
        GROUP BY e.query_id
    )
    SELECT t.query_id, n_exact,
           CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(n_hit, 0) * 1.0 / n_exact, 6) AS recall_at_k
    FROM tot t LEFT JOIN hit ON t.query_id = hit.query_id
    ORDER BY t.query_id
    """


def jl_distortion_oracle_sql(
    out_dim: int = 16, seed: int = 11, max_id: int = 40
) -> str:
    """jl_distortion_pairs: pairwise distance-preservation audit of the
    seeded JL ±1/√k projection (operators/similarity.py jl_project) — the
    matrix regenerates from the seed (no fixture), each projected
    coordinate is the same literal-weighted list_zip fold Spark runs, and
    both the original 64-dim and projected k-dim pairwise L2 distances are
    computed from identical expressions, so ratio rows hash-match."""
    from ningaloo_turtle_etl_spark.operators.similarity import _jl_matrix

    dim = int(_fixture("ivf_centroids")["dim"])
    m = _jl_matrix(dim, out_dim, seed)
    coords = ", ".join(_dot_lit("v", m[j]) for j in range(out_dim))
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id < {max_id}
    ),
    proj AS (
        SELECT vec_id, v, [{coords}]::DOUBLE[] AS jl FROM base
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               sqrt(list_sum(list_transform(list_zip(a.v, b.v),
                    x -> (x[1]-x[2])*(x[1]-x[2])))) AS d_orig,
               sqrt(list_sum(list_transform(list_zip(a.jl, b.jl),
                    x -> (x[1]-x[2])*(x[1]-x[2])))) AS d_proj
        FROM proj a JOIN proj b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           ROUND(d_orig, 6) AS d_orig,
           ROUND(d_proj, 6) AS d_proj,
           ROUND(CASE WHEN d_orig > 0 THEN d_proj / d_orig END, 6)
               AS ratio
    FROM pairs
    ORDER BY id_a, id_b
    """


def ndcg_oracle_sql(k: int = 10) -> str:
    """ranking_ndcg_eval — retrieval metrics over the brute-force cosine
    top-k with relevance = shared label. The 1/log2(rank+1) discount
    weights are the SAME integer-nano literals the operator embeds
    (precomputed in Python; neither engine calls log2), so DCG/IDCG are
    exact integer arithmetic meeting in one final double division."""
    import math

    w = [int(round(1e9 / math.log2(i + 1))) for i in range(1, k + 1)]
    cum, acc = [], 0
    for x in w:
        acc += x
        cum.append(acc)
    w_lit = "[" + ", ".join(str(x) for x in w) + "]"
    cum_lit = "[" + ", ".join(str(x) for x in cum) + "]"
    return f"""
    WITH ranked AS ({brute_oracle_sql(k=k)}),
    lab AS (SELECT vec_id, label FROM embeddings),
    cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS nl
            FROM lab GROUP BY label),
    j AS (
        SELECT r.query_id, r.rank,
               CASE WHEN ql.label = cl.label THEN 1 ELSE 0 END AS rel
        FROM ranked r
        JOIN lab ql ON r.query_id = ql.vec_id
        JOIN lab cl ON r.vec_id = cl.vec_id
    ),
    perq AS (
        SELECT query_id,
               CAST(SUM(rel * ({w_lit})[rank]) AS BIGINT) AS dcg_n,
               CAST(SUM(rel) AS BIGINT) AS hits_at_k,
               MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel
        FROM j GROUP BY query_id
    )
    SELECT p.query_id,
           CAST(cnt.nl - 1 AS BIGINT) AS n_rel_corpus,
           p.hits_at_k,
           ROUND(p.hits_at_k / CAST({k} AS DOUBLE), 6) AS precision_at_k,
           ROUND(CAST(1 AS DOUBLE) / p.first_rel, 6) AS mrr,
           CASE WHEN cnt.nl - 1 > 0 THEN
               ROUND(p.dcg_n / CAST(({cum_lit})[least(cnt.nl - 1,
                                                      {k})] AS DOUBLE), 6)
           END AS ndcg_at_k
    FROM perq p
    JOIN lab ql ON p.query_id = ql.vec_id
    JOIN cnt ON ql.label = cnt.label
    ORDER BY p.query_id
    """


def matryoshka_recall_oracle_sql(k: int = 10, dims=(16, 32)) -> str:
    """ann_matryoshka_recall: recall@k of TRUNCATED-prefix cosine top-k
    (Matryoshka representation evaluation, Kusupati et al. 2022 —
    "how much of the neighborhood survives if we keep only the first d
    coordinates") against the full-dimension brute-force ground truth.
    Truncated and exact halves are the same brute-force shape with a
    list_slice on both sides of the dot product."""

    def brute(d: int | None) -> str:
        vec = (
            "CAST({0}.embedding AS DOUBLE[])"
            if d is None
            else f"list_slice(CAST({{0}}.embedding AS DOUBLE[]), 1, {d})"
        )
        dot = (
            f"list_sum(list_transform(list_zip({vec.format('c')}, "
            f"{vec.format('q')}), x -> x[1]*x[2]))"
        )
        normsq = f"list_sum(list_transform({vec}, x -> x*x))"
        return f"""
        SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, vec_id) AS INT) AS rank
            FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                       ROUND({dot} / (sqrt({normsq.format('c')})
                             * sqrt({normsq.format('q')})), 6) AS cosine
                FROM embeddings c, embeddings q
                WHERE q.vec_id < {QUERY_CUT} AND c.vec_id <> q.vec_id
            )
        ) WHERE rank <= {k}"""

    tiers = []
    for d in dims:
        tiers.append(
            f"""
    SELECT {d} AS trunc_dim, t.query_id, n_exact,
           CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(n_hit, 0) * 1.0 / n_exact, 6) AS recall_at_k
    FROM (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
          FROM exact GROUP BY query_id) t
    LEFT JOIN (SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
               FROM exact e JOIN trunc{d} a
                 ON e.query_id = a.query_id AND e.vec_id = a.vec_id
               GROUP BY e.query_id) h
      ON t.query_id = h.query_id"""
        )
    trunc_ctes = ",".join(
        f"\n    trunc{d} AS MATERIALIZED ({brute(d)})" for d in dims
    )
    return (
        f"""
    WITH exact AS MATERIALIZED ({brute(None)}),{trunc_ctes}
    """
        + "\n    UNION ALL".join(tiers)
        + "\n    ORDER BY trunc_dim, query_id"
    )


def matryoshka_topk_oracle_sql(
    k: int = 10, d_short: int = 16, shortlist: int = 50
) -> str:
    """ann_matryoshka_topk: the fused two-stage Matryoshka serving query
    — prefix-truncated cosine SHORTLIST (cheap dot products over the
    first ``d_short`` coords) re-ranked EXACTLY at full dimension, the
    adaptive-retrieval pattern Matryoshka embeddings exist for. Same
    rank/tiebreak conventions as the brute oracle at both stages."""
    def vec(expr, d=None):
        base = f"CAST({expr}.embedding AS DOUBLE[])"
        return base if d is None else f"list_slice({base}, 1, {d})"

    def cos(d=None):
        dot = (
            f"list_sum(list_transform(list_zip({vec('c', d)}, "
            f"{vec('q', d)}), x -> x[1]*x[2]))"
        )
        nsq = lambda s: (  # noqa: E731
            f"list_sum(list_transform({vec(s, d)}, x -> x*x))"
        )
        return f"ROUND({dot} / (sqrt({nsq('c')}) * sqrt({nsq('q')})), 6)"

    return f"""
    WITH short AS MATERIALIZED (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
                        ORDER BY {cos(d_short)} DESC, c.vec_id) AS INT)
                       AS srank
            FROM embeddings c, embeddings q
            WHERE q.vec_id < {QUERY_CUT} AND c.vec_id <> q.vec_id
        ) WHERE srank <= {shortlist}
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT s.query_id, s.vec_id, {cos(None)} AS cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id
                    ORDER BY {cos(None)} DESC, s.vec_id) AS INT) AS rank
        FROM short s
        JOIN embeddings c ON c.vec_id = s.vec_id
        JOIN embeddings q ON q.vec_id = s.query_id
    ) WHERE rank <= {k}
    ORDER BY query_id, rank
    """


# --- distributed PQ/IVF TRAINING oracles (r12: the train→serve loop) ---------
# operators/quantize.py _lloyd_micro_rounds trains in integer micro-units
# (the kmeans_lloyd convention at subvector grain), so the whole training
# trajectory — init by k smallest ids, exact-integer argmin with (dist,
# code) ties, floor(s/n + 0.5) recentering, empty cells keeping their
# previous centroid — unrolls into chained CTEs that replay bit-for-bit.


def _lloyd_chain_sql(prefix: str, m: int, k: int, iterations: int, dim: int) -> str:
    """CTE chain training m per-subspace codebooks of k codes for
    ``iterations`` rounds over the shared ``vm`` CTE (integer-micro
    vectors). Emits sub{prefix} (the (id, s, sv) subvector grain) and
    c{prefix}{t} for t = 0..iterations (the codebooks per round)."""
    d_sub = dim // m
    d2 = (
        f"list_sum(list_transform(range(1, {d_sub + 1}), "
        "i -> (v.sv[i] - c.c[i]) * (v.sv[i] - c.c[i])))"
    )
    parts = [
        f"""
    sub{prefix} AS (
        SELECT id, CAST(t.s AS INT) AS s,
               list_slice(vm, t.s * {d_sub} + 1,
                          t.s * {d_sub} + {d_sub}) AS sv
        FROM vm, range(0, {m}) t(s)
    ),
    c{prefix}0 AS (
        SELECT s, CAST(rn - 1 AS INT) AS code, sv AS c
        FROM (SELECT s, sv,
                     ROW_NUMBER() OVER (PARTITION BY s ORDER BY id) AS rn
              FROM sub{prefix})
        WHERE rn <= {k}
    )"""
    ]
    for t in range(1, iterations + 1):
        parts.append(
            f""",
    a{prefix}{t} AS (
        SELECT id, s, sv, code, dist,
               ROW_NUMBER() OVER (PARTITION BY id, s
                                  ORDER BY dist, code) AS rn
        FROM (SELECT v.id, v.s, v.sv, c.code, {d2} AS dist
              FROM sub{prefix} v JOIN c{prefix}{t - 1} c ON v.s = c.s)
    ),
    s{prefix}{t} AS (
        SELECT s, code, i, CAST(SUM(sv[i]) AS BIGINT) AS sm,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM a{prefix}{t}, range(1, {d_sub + 1}) t(i)
        WHERE rn = 1 GROUP BY s, code, i
    ),
    c{prefix}{t} AS (
        SELECT p.s, p.code, COALESCE(u.c, p.c) AS c
        FROM c{prefix}{t - 1} p LEFT JOIN (
            SELECT s, code,
                   list(CAST((2*sm + n
                              - (((2*sm + n) % (2*n)) + 2*n) % (2*n))
                             // (2*n) AS BIGINT)
                        ORDER BY i) AS c
            FROM s{prefix}{t} GROUP BY s, code
        ) u USING (s, code)
    )"""
        )
    return "".join(parts)


_VM_CTE = """
    vm AS (
        SELECT vec_id AS id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS vm
        FROM embeddings
    )"""


def pq_train_oracle_sql(
    m: int = 4, k: int = 4, iterations: int = 2, dim: int = 64
) -> str:
    """pq_train_codebooks: the training audit at (subspace, code) grain —
    n_vecs + inertia from the final assignment, centroid_l1 from the
    trained codebook itself (so the codebook VALUES are in the hash)."""
    d_sub = dim // m
    d2 = (
        f"list_sum(list_transform(range(1, {d_sub + 1}), "
        "i -> (v.sv[i] - c.c[i]) * (v.sv[i] - c.c[i])))"
    )
    return (
        "WITH "
        + _VM_CTE
        + ","
        + _lloyd_chain_sql("p", m, k, iterations, dim)
        + f""",
    af AS (
        SELECT s, code, dist,
               ROW_NUMBER() OVER (PARTITION BY id, s
                                  ORDER BY dist, code) AS rn
        FROM (SELECT v.id, v.s, c.code, {d2} AS dist
              FROM subp v JOIN cp{iterations} c ON v.s = c.s)
    ),
    agg AS (
        SELECT s, code, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(dist) AS BIGINT) AS dsum
        FROM af WHERE rn = 1 GROUP BY s, code
    )
    SELECT CAST(c.s AS INT) AS subspace, CAST(c.code AS INT) AS code,
           CAST(COALESCE(g.n_vecs, 0) AS BIGINT) AS n_vecs,
           ROUND(CAST(COALESCE(g.dsum, 0) AS BIGINT) / 1e12, 6) AS inertia,
           ROUND(CAST(list_sum(list_transform(c.c, x -> abs(x)))
                 AS BIGINT) / 1e6, 6) AS centroid_l1
    FROM cp{iterations} c LEFT JOIN agg g ON c.s = g.s AND c.code = g.code
    ORDER BY subspace, code"""
    )


def trained_ivf_pq_oracle_sql(
    k_cells: int = 4,
    coarse_iterations: int = 2,
    m: int = 4,
    k_codes: int = 4,
    pq_iterations: int = 2,
    k: int = 3,
    nprobe: int = 2,
    shortlist: int = 20,
    dim: int = 64,
    query_cut: int = 4,
) -> str:
    """ann_trained_ivf_pq_topk: the fused train→encode→serve loop — both
    training chains (coarse m=1, PQ subspace) unroll, then the trained
    parameters drive cell assignment, PQ codes, the integer ADC lookup
    table, the probed-cell candidate join, and the exact re-rank —
    every tier bit-identical to the Spark side."""
    d_sub = dim // m
    d2g = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (v.sv[i] - c.c[i]) * (v.sv[i] - c.c[i])))"
    )
    d2p = (
        f"list_sum(list_transform(range(1, {d_sub + 1}), "
        "i -> (v.sv[i] - c.c[i]) * (v.sv[i] - c.c[i])))"
    )
    return (
        "WITH "
        + _VM_CTE
        + ","
        + _lloyd_chain_sql("g", 1, k_cells, coarse_iterations, dim)
        + ","
        + _lloyd_chain_sql("p", m, k_codes, pq_iterations, dim)
        + f""",
    enc_cell AS (
        SELECT id, code AS cell FROM (
            SELECT id, code,
                   ROW_NUMBER() OVER (PARTITION BY id
                                      ORDER BY dist, code) AS rn
            FROM (SELECT v.id, c.code, {d2g} AS dist
                  FROM subg v JOIN cg{coarse_iterations} c ON v.s = c.s))
        WHERE rn = 1
    ),
    enc_code AS (
        SELECT id, s, code FROM (
            SELECT id, s, code,
                   ROW_NUMBER() OVER (PARTITION BY id, s
                                      ORDER BY dist, code) AS rn
            FROM (SELECT v.id, v.s, c.code, {d2p} AS dist
                  FROM subp v JOIN cp{pq_iterations} c ON v.s = c.s))
        WHERE rn = 1
    ),
    q AS (SELECT id AS qid, vm AS qm FROM vm WHERE id < {query_cut}),
    qsub AS (
        SELECT qid, CAST(t.s AS INT) AS s,
               list_slice(qm, t.s * {d_sub} + 1,
                          t.s * {d_sub} + {d_sub}) AS sv
        FROM q, range(0, {m}) t(s)
    ),
    qcells AS (
        SELECT qid, code AS cell FROM (
            SELECT qid, code,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY dist, code) AS rn
            FROM (SELECT q.qid, c.code,
                         list_sum(list_transform(range(1, {dim + 1}),
                             i -> (q.qm[i] - c.c[i])
                                  * (q.qm[i] - c.c[i]))) AS dist
                  FROM q JOIN cg{coarse_iterations} c ON c.s = 0))
        WHERE rn <= {nprobe}
    ),
    lut AS (
        SELECT v.qid, v.s, c.code, {d2p} AS dist
        FROM qsub v JOIN cp{pq_iterations} c ON v.s = c.s
    ),
    cand AS (
        SELECT qc.qid, ec.id
        FROM qcells qc JOIN enc_cell ec ON ec.cell = qc.cell
        WHERE ec.id <> qc.qid
    ),
    adc AS (
        SELECT cd.qid, cd.id, CAST(SUM(l.dist) AS BIGINT) AS adc
        FROM cand cd
        JOIN enc_code e ON e.id = cd.id
        JOIN lut l ON l.qid = cd.qid AND l.s = e.s AND l.code = e.code
        GROUP BY cd.qid, cd.id
    ),
    short AS (
        SELECT qid, id FROM (
            SELECT qid, id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY adc, id) AS rn
            FROM adc)
        WHERE rn <= {shortlist}
    ),
    ex AS (
        SELECT s.qid, s.id,
               list_sum(list_transform(range(1, {dim + 1}),
                   i -> (v.vm[i] - q.qm[i]) * (v.vm[i] - q.qm[i]))) AS d
        FROM short s JOIN vm v ON v.id = s.id JOIN q ON q.qid = s.qid
    )
    SELECT qid AS query_id, id AS vec_id,
           ROUND(CAST(d AS BIGINT) / 1e12, 6) AS distance,
           CAST(rn AS INT) AS rank
    FROM (SELECT qid, id, d,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, id) AS rn
          FROM ex)
    WHERE rn <= {k}
    ORDER BY query_id, rank"""
    )
