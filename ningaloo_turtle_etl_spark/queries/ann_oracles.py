"""DuckDB oracle SQL generators for the vector registered queries.

``pq_train_oracle_sql`` / ``trained_ivf_pq_oracle_sql`` replay the trained
IVF-PQ loop of ``operators/quantize.py``, whose training trajectories
unroll into chained CTEs in exact integer micro arithmetic, so every
centroid, cell, code and rank replays bit-for-bit. No generator reads a
parameter file.
"""

from __future__ import annotations


# --- distributed PQ/IVF TRAINING oracles (r12: the train→serve loop) ---------
# operators/quantize.py _lloyd_micro_rounds trains in integer micro-units,
# so the whole training trajectory — init by k smallest ids, exact-integer
# argmin with (dist, code) ties, floor(s/n + 0.5) recentering, empty cells
# keeping their previous centroid — unrolls into chained CTEs that replay
# bit-for-bit.


def _lloyd_chain_sql(prefix: str, m: int, k: int, iterations: int, dim: int) -> str:
    """CTE chain training m per-subspace codebooks of k codes for
    ``iterations`` rounds over the shared ``vm`` CTE (integer-micro
    vectors). Emits sub{prefix} (the (id, s, sv) subvector grain) and
    c{prefix}{t} for t = 0..iterations (the codebooks per round). The
    per-cell sums are HUGEINT, so the exact half-up recentering's 2*sm
    cannot overflow BIGINT once |sm| reaches 2^62."""
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
        SELECT s, code, i, CAST(SUM(sv[i]) AS HUGEINT) AS sm,
               CAST(COUNT(*) AS HUGEINT) AS n
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
