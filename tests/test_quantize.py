"""Trained IVF-PQ tests: the distributed Lloyd trainer, the closed
train→encode→serve loop and its recall vs brute force, and the Arrow
stages pinned against the Catalyst expression forms they replaced, on the
real embeddings table."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_pq_train_codebooks_lloyd_grain_and_inertia(spark):
    """Distributed PQ training audit: the output covers the full
    (subspace, code) grid, every subspace's n_vecs sums to the corpus
    size (each vector gets exactly one code per subspace), and a second
    Lloyd round never increases total inertia (monotone descent, up to
    the 0.5-micro recentering quantization)."""
    import collections

    from ningaloo_turtle_etl_spark.operators.quantize import (
        pq_train_codebooks_lloyd,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    n = emb.count()
    one = pq_train_codebooks_lloyd(emb, 4, 4, iterations=1).collect()
    two = pq_train_codebooks_lloyd(emb, 4, 4, iterations=2).collect()
    for rows in (one, two):
        assert len(rows) == 16
        per_s = collections.Counter()
        for r in rows:
            per_s[r["subspace"]] += r["n_vecs"]
        assert all(v == n for v in per_s.values())
        assert all(r["centroid_l1"] > 0 for r in rows)
    i1 = sum(r["inertia"] for r in one)
    i2 = sum(r["inertia"] for r in two)
    # measured on sf0.001: 452.93 -> 447.74
    assert i2 <= i1 + 1e-6


def test_lloyd_m1_two_blobs(spark):
    """At m=1 the trainer is full-vector Lloyd k-means. Two
    well-separated 2D blobs, k=2, init = the two smallest ids (one
    planted in each blob): Lloyd must split them perfectly, and the
    inertia and centroid L1 must equal a hand-computed replica of the
    integer-micro update."""
    import math

    import pytest

    from ningaloo_turtle_etl_spark.operators.quantize import (
        pq_train_codebooks_lloyd,
    )

    blob_a = [(0, [0.0, 0.0]), (2, [0.1, 0.0]), (3, [0.0, 0.2]),
              (4, [0.1, 0.2])]
    blob_b = [(1, [5.0, 5.0]), (5, [5.1, 5.0]), (6, [5.0, 5.2])]
    df = spark.createDataFrame(
        blob_a + blob_b, "vec_id long, embedding array<double>"
    )
    out = {
        r["code"]: r
        for r in pq_train_codebooks_lloyd(
            df, m_subvectors=1, k_codes=2, iterations=2
        ).collect()
    }
    assert out[0]["n_vecs"] == 4 and out[1]["n_vecs"] == 3

    # independent replay: same quantization, same update rule
    def fit(pts, cents, iters):
        pts = [[int(math.floor(x * 1e6 + 0.5)) for x in p] for p in pts]
        cents = [[int(math.floor(x * 1e6 + 0.5)) for x in c] for c in cents]
        for _ in range(iters):
            groups = {}
            for p in pts:
                d = [(sum((a - b) ** 2 for a, b in zip(p, c)), j)
                     for j, c in enumerate(cents)]
                groups.setdefault(min(d)[1], []).append(p)
            cents = [
                [int(math.floor(sum(col) / len(g) + 0.5))
                 for col in zip(*g)] if (g := groups.get(j)) else cents[j]
                for j in range(len(cents))
            ]
        inert, counts = {}, {}
        for p in pts:
            d = [(sum((a - b) ** 2 for a, b in zip(p, c)), j)
                 for j, c in enumerate(cents)]
            dist, j = min(d)
            inert[j] = inert.get(j, 0) + dist
            counts[j] = counts.get(j, 0) + 1
        return {
            j: (
                counts[j],
                round(inert[j] / 1e12, 6),
                round(sum(abs(x) for x in cents[j]) / 1e6, 6),
            )
            for j in counts
        }

    rows = sorted(blob_a + blob_b)
    ref = fit([v for _, v in rows], [rows[0][1], rows[1][1]], 2)
    for j, r in out.items():
        assert r["subspace"] == 0
        assert (r["n_vecs"], r["inertia"], r["centroid_l1"]) == ref[j], j

    with pytest.raises(ValueError):
        pq_train_codebooks_lloyd(df, m_subvectors=1, k_codes=0)
    with pytest.raises(ValueError):
        pq_train_codebooks_lloyd(df, m_subvectors=1, k_codes=100)


def test_pq_train_oracle_sums_past_int64_half_range():
    """The training oracle doubles each cell's coordinate sum while
    recentering; at |s| >= 2^62 a BIGINT sum overflowed. Here code 0
    holds three coordinates near 2.3e18 micros (s ~ 6.9e18) and must
    recenter to their exact mean x + 4. The same chain trains both
    window queries (pq_train_codebooks, ann_trained_ivf_pq_topk)."""
    import duckdb

    from ningaloo_turtle_etl_spark.queries.ann_oracles import (
        pq_train_oracle_sql,
    )

    x = 2_305_843_009_216.0  # x*1e6 is exact in a double, just over 2^61
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)",
        [(0, [x]), (1, [x + 2000]), (2, [x + 4]), (3, [x + 8])],
    )
    assert 3 * x * 1e6 > 2**62
    # code 0 = ids 0, 2, 3 recentered to x + 4; code 1 = id 1. The L1
    # column is the exact micro centroid divided once in double, as the
    # engine's round(sum(|c|) / 1e6, 6) computes it.
    xm = int(x * 1e6)
    got = con.sql(pq_train_oracle_sql(1, 2, 1, 1)).fetchall()
    assert [tuple(r) for r in got] == [
        (0, 0, 3, 32.0, round((xm + 4_000_000) / 1e6, 6)),
        (0, 1, 1, 0.0, round((xm + 2_000_000_000) / 1e6, 6)),
    ]


def test_trained_ivf_pq_topk_closed_loop(spark):
    """The fused train→encode→serve loop: (a) exact-stage distances are
    true squared L2 on the micro-quantized vectors; (b) recall vs
    brute force clears a floor at a real cut (nprobe=2, shortlist=100);
    (c) with every cut opened (nprobe = k_cells, shortlist >= corpus)
    the loop IS brute force — recall exactly 1.0, the end-to-end
    correctness pin for the trained tiers; (d) invalid params raise."""
    import pytest

    from ningaloo_turtle_etl_spark.operators.quantize import (
        trained_ivf_pq_topk,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    queries = emb.filter(F.col("vec_id") < 8)
    k = 5
    vecs = {
        r["vec_id"]: np.round(
            np.asarray(r["embedding"], dtype=np.float64) * 1e6
        )
        for r in emb.collect()
    }
    exact_sets = {}
    for q in range(8):
        d = sorted(
            (float(((vecs[i] - vecs[q]) ** 2).sum()), i)
            for i in vecs
            if i != q
        )[:k]
        exact_sets[q] = {i for _, i in d}

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        hits = sum(
            len(exact_sets[q] & got.get(q, set())) for q in exact_sets
        )
        return hits / (k * len(exact_sets))

    out = trained_ivf_pq_topk(
        emb,
        queries,
        k_cells=4,
        coarse_iterations=2,
        m_subvectors=4,
        k_codes=4,
        pq_iterations=2,
        k=k,
        nprobe=2,
        shortlist=100,
    )
    for r in out.collect():
        ref = ((vecs[r["vec_id"]] - vecs[r["query_id"]]) ** 2).sum() / 1e12
        assert abs(r["distance"] - ref) < 1e-5
    # measured 0.625 on sf0.001 (nprobe=2, shortlist=100)
    assert recall(out) >= 0.5

    n = len(vecs)
    opened = trained_ivf_pq_topk(
        emb,
        queries,
        k_cells=4,
        coarse_iterations=2,
        m_subvectors=4,
        k_codes=4,
        pq_iterations=2,
        k=k,
        nprobe=4,
        shortlist=n,
    )
    assert recall(opened) == 1.0

    with pytest.raises(ValueError):
        trained_ivf_pq_topk(emb, queries, k=5, shortlist=3)


def test_lloyd_arrow_grid_matches_catalyst_reference(spark):
    """r13 pins the Arrow-batched Lloyd grid against the original
    Catalyst expression form it replaced: same assignment (exact-int64
    argmin, first-min tie to the smallest code), same per-cell counts,
    per-coordinate sums, and distance sums — on a fixture with exact
    distance TIES (duplicate vectors and symmetric centroids) so the tie
    rule itself is exercised, for both the m=1 (coarse) and m>1 (PQ
    subvector) grains."""
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators.quantize import (
        _lloyd_grid_rows,
        _micro_base,
    )

    df = spark.createDataFrame(
        [
            (i, [float((i * 7) % 5 - 2), float((i * 3) % 4 - 1),
                 float(i % 3 - 1), float((i * 11) % 6 - 3)])
            for i in range(40)
        ]
        # duplicate rows: equidistant cases must tie to the smaller code
        + [(100 + i, [0.0, 0.0, 0.0, 0.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    base = _micro_base(df, "vec_id", "embedding").persist()
    base.count()
    try:
        for m, k in ((1, 3), (2, 2)):
            d_sub = 4 // m
            init = base.orderBy("id").limit(k).collect()
            books = [
                [list(r["vm"])[i * d_sub : (i + 1) * d_sub] for r in init]
                for i in range(m)
            ]
            got = {
                (int(r["s"]), int(r["code"])): (
                    int(r["n"]),
                    tuple(int(r[f"s{j}"]) for j in range(d_sub)),
                    int(r["dsum"]),
                )
                for r in _lloyd_grid_rows(
                    base, books, m, k, d_sub, with_dist=True
                )
            }

            # Catalyst reference: the pre-r13 expression form
            def dist_expr(sv, c):
                carr = F.array(*[F.lit(int(x)) for x in c])
                return F.aggregate(
                    F.zip_with(sv, carr, lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )

            def sub_col(i):
                return F.slice(F.col("vm"), i * d_sub + 1, d_sub)

            ex = base.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).alias("s"),
                                F.array_min(
                                    F.array(
                                        *[
                                            F.struct(
                                                dist_expr(sub_col(i), c).alias("d"),
                                                F.lit(j).alias("j"),
                                            )
                                            for j, c in enumerate(books[i])
                                        ]
                                    )
                                )["j"].alias("code"),
                                F.array_min(
                                    F.array(
                                        *[
                                            F.struct(
                                                dist_expr(sub_col(i), c).alias("d"),
                                                F.lit(j).alias("j"),
                                            )
                                            for j, c in enumerate(books[i])
                                        ]
                                    )
                                )["d"].alias("d"),
                                sub_col(i).alias("sv"),
                            )
                            for i in range(m)
                        ]
                    )
                ).alias("e")
            ).select("e.s", "e.code", "e.d", "e.sv")
            ref = {
                (int(r["s"]), int(r["code"])): (
                    int(r["n"]),
                    tuple(int(r[f"s{j}"]) for j in range(d_sub)),
                    int(r["dsum"]),
                )
                for r in ex.groupBy("s", "code")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    *[
                        F.sum(F.col("sv").getItem(j)).alias(f"s{j}")
                        for j in range(d_sub)
                    ],
                    F.sum("d").alias("dsum"),
                )
                .collect()
            }
            assert got == ref, f"grid mismatch at m={m}, k={k}"
    finally:
        base.unpersist()


def test_encode_arrow_matches_expression_argmin(spark):
    """r13: the Arrow encode stage must reproduce the expression-form
    per-row argmins (cell + m PQ codes) including distance ties."""
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators.quantize import (
        TrainedIvfPq,
        _encode_from_base,
        _micro_base,
    )

    df = spark.createDataFrame(
        [(i, [float((i * 5) % 7 - 3), float((i * 2) % 5 - 2),
              float(i % 4 - 2), float((i * 9) % 8 - 4)]) for i in range(30)]
        + [(200 + i, [1.0, -1.0, 1.0, -1.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    base = _micro_base(df, "vec_id", "embedding")
    cents = [[0, 0, 0, 0], [1_000_000, -1_000_000, 1_000_000, -1_000_000]]
    books = [
        [[0, 0], [1_000_000, -1_000_000]],
        [[0, 0], [-1_000_000, 1_000_000]],
    ]
    params = TrainedIvfPq(cents=cents, books=books, dim=4)
    got = sorted(
        (r["vec_id"], r["cell"], tuple(r["code"]))
        for r in _encode_from_base(base, params).collect()
    )

    def argmin_expr(col, cs):
        def idist(c):
            carr = F.array(*[F.lit(int(x)) for x in c])
            return F.aggregate(
                F.zip_with(col, carr, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )

        return F.array_min(
            F.array(
                *[
                    F.struct(idist(c).alias("d"), F.lit(j).alias("j"))
                    for j, c in enumerate(cs)
                ]
            )
        )["j"]

    ref_df = base.select(
        F.col("id").alias("vec_id"),
        argmin_expr(F.col("vm"), cents).alias("cell"),
        F.array(
            *[
                argmin_expr(F.slice(F.col("vm"), i * 2 + 1, 2), books[i]).cast("int")
                for i in range(2)
            ]
        ).alias("code"),
    )
    ref = sorted(
        (r["vec_id"], r["cell"], tuple(r["code"])) for r in ref_df.collect()
    )
    assert got == ref
