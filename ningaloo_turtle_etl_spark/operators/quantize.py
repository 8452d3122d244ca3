"""Distributed IVF-PQ: train, encode and serve an approximate-nearest-
neighbour index over an embedding column, with no fixed parameter file.

- TRAIN: distributed Lloyd over integer-micro vectors (round(x·1e6) once)
  learns the IVF coarse centroids (full-vector grain, m=1) and the PQ
  codebooks (Jégou, Douze & Schmid, TPAMI 2011: m contiguous subvectors,
  k codes each). Every assignment scans the corpus map-side in one
  Arrow batch stage; every update is one map-side-combined aggregate.
- ENCODE: one map-only pass gives each vector its IVF cell and m PQ
  codes — the (vec_id, cell, code) serving index.
- SERVE: each query probes its ``nprobe`` nearest cells, scores the
  candidates by asymmetric distance (m integer lookups into the query's
  table) and re-ranks the shortlist with exact squared L2.

The whole loop is exact integer arithmetic, so an unrolled DuckDB oracle
(queries/ann_oracles.py) replays it bit-for-bit.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

from ningaloo_turtle_etl_spark.operators.similarity import _recenter_micro


# --- distributed Lloyd at subvector grain ------------------------------------
# Integer-micro quantization once, exact-integer squared distances and
# exact half-up recentering (_recenter_micro), so the whole trajectory
# replays bit-for-bit in an unrolled DuckDB oracle with no driver-side
# float math anywhere in the loop.


def _lloyd_grid_rows(
    base: DataFrame,
    books: list,
    m: int,
    k: int,
    d_sub: int,
    with_dist: bool = False,
):
    """ONE Lloyd assignment+reduce pass over the persisted (id, vm) frame,
    computed as an Arrow partial grid: a ``mapInArrow`` stage assigns every
    subvector to its nearest codebook entry with exact int64 numpy
    arithmetic and folds (count, per-coordinate sums[, distance sum]) to
    the (subspace, code) grid PER TASK, then one tiny Spark aggregate
    merges the per-task grids. Returns the collected grid rows
    (s, code, n, s0..s{d_sub-1}[, dsum]) — only cells with members.

    Why Arrow (guide §4.2): the previous form inlined m·k
    ``aggregate(zip_with(...))`` distance folds per row — higher-order
    functions are CodegenFallback, so every row paid m·k interpreted
    lambda folds plus array allocations (measured 3.7-7 s per scan at
    100k×64 on local[32]); the numpy batch form computes the same exact
    integer distances at ~0.9 s per scan. Exactness is unchanged:
    micro-int subvectors are int64 throughout, argmin score uses
    |c|² − 2·v·c (the |v|² term is constant per row, so the argmin and
    its first-min tie — smallest code index, numpy argmin's rule, the
    struct-min rule, and the oracle's ORDER BY dist, code — all agree),
    per-cell sums are int64 scatter-adds, the cross-task merge is
    Spark's exact long sum, and the optional distance sum re-adds |v|²
    before folding. Shuffle shape is unchanged: only the m·k-cell grid
    crosses the exchange (map-side-combined, now pre-folded per task);
    vectors never shuffle and only the ``vm`` column crosses the Python
    boundary.
    """
    rows = _lloyd_grid_rows_multi(
        base, [(books, m, k, d_sub)], with_dist=with_dist
    )
    return rows[0]


def _lloyd_grid_frame(
    base: DataFrame,
    specs: list,
    with_dist: bool = False,
) -> DataFrame:
    """The uncollected grid of `_lloyd_grid_rows_multi`: one
    ``mapInArrow`` assignment scan folding every spec's (g, s, code)
    partial grid per task, merged by one long-sum aggregate. Sum columns
    are padded to the widest spec (padding cells stay exactly 0 through
    the long-sum merge)."""
    import pyarrow as pa

    Cs = [np.array(b, dtype=np.int64).reshape(m, k, d) for b, m, k, d in specs]
    cns = [(C * C).sum(axis=2) for C in Cs]
    d_max = max(d for _, _, _, d in specs)
    dim = specs[0][1] * specs[0][3]
    for _, m, _, d in specs:
        if m * d != dim:
            raise ValueError("_lloyd_grid_rows_multi: inconsistent dim")
    ddl = "g int, s int, code int, n long, " + ", ".join(
        f"s{j} long" for j in range(d_max)
    )
    fields = [
        ("g", pa.int32()),
        ("s", pa.int32()),
        ("code", pa.int32()),
        ("n", pa.int64()),
    ] + [(f"s{j}", pa.int64()) for j in range(d_max)]
    if with_dist:
        ddl += ", dsum long"
        fields.append(("dsum", pa.int64()))
    pa_schema = pa.schema(fields)

    def partials(it):
        accs = [
            (
                np.zeros((m, k), np.int64),
                np.zeros((m, k, d), np.int64),
                np.zeros((m, k), np.int64),
            )
            for _, m, k, d in specs
        ]
        seen = False
        for batch in it:
            flat = batch.column(0).flatten().to_numpy(zero_copy_only=False)
            if flat.size == 0:
                continue
            arr = flat.reshape(-1, dim).astype(np.int64, copy=False)
            seen = True
            for g, (_, m, k, d_sub) in enumerate(specs):
                acc_n, acc_s, acc_d = accs[g]
                for i in range(m):
                    sub = arr[:, i * d_sub : (i + 1) * d_sub]
                    # score = dist − |v|²; constant shift per row keeps
                    # the argmin and its ties identical to the full
                    # distance
                    scores = cns[g][i][None, :] - 2 * (sub @ Cs[g][i].T)
                    codes = np.argmin(scores, axis=1)
                    acc_n[i] += np.bincount(codes, minlength=k)
                    np.add.at(acc_s[i], codes, sub)
                    if with_dist:
                        vn = (sub * sub).sum(axis=1)
                        dmin = scores[np.arange(len(codes)), codes] + vn
                        np.add.at(acc_d[i], codes, dmin)
        if not seen:
            return
        for g, (_, m, k, d_sub) in enumerate(specs):
            acc_n, acc_s, acc_d = accs[g]
            ss, cc = np.nonzero(acc_n)
            if len(ss) == 0:
                continue
            pad = np.zeros(len(ss), np.int64)
            arrays = [
                pa.array(np.full(len(ss), g, np.int32)),
                pa.array(ss.astype(np.int32)),
                pa.array(cc.astype(np.int32)),
                pa.array(acc_n[ss, cc]),
            ] + [
                pa.array(acc_s[ss, cc, j]) if j < d_sub else pa.array(pad)
                for j in range(d_max)
            ]
            if with_dist:
                arrays.append(pa.array(acc_d[ss, cc]))
            yield pa.RecordBatch.from_arrays(arrays, schema=pa_schema)

    part = base.select("vm").mapInArrow(partials, ddl)
    aggs = [F.sum("n").alias("n")] + [
        F.sum(f"s{j}").alias(f"s{j}") for j in range(d_max)
    ]
    if with_dist:
        aggs.append(F.sum("dsum").alias("dsum"))
    return part.groupBy("g", "s", "code").agg(*aggs)


def _lloyd_grid_rows_multi(
    base: DataFrame,
    specs: list,
    with_dist: bool = False,
):
    """`_lloyd_grid_rows` over SEVERAL independent codebook sets in the
    SAME scan: ``specs`` is a list of (books, m, k, d_sub) whose
    trajectories do not feed each other (IVF coarse at m=1 and PQ at
    subvector grain train independently), so folding them into one pass
    halves the per-iteration corpus scans of the fused trainer without
    changing any trajectory. Returns a list aligned with specs, each
    entry the collected grid rows of that spec."""
    rows = _lloyd_grid_frame(base, specs, with_dist=with_dist).collect()
    out: list = [[] for _ in specs]
    for r in rows:
        out[int(r["g"])].append(r)
    return out


def _lloyd_micro_rounds(
    base: DataFrame,
    m: int,
    k: int,
    iterations: int,
    dim: int,
) -> list[list[list[int]]]:
    """Per-subspace distributed Lloyd over a persisted (id, vm) frame
    (vm = integer-micro vector, round(x·1e6)). m=1 trains full-vector
    (IVF coarse) centroids; m>1 trains PQ codebooks on the m contiguous
    dim/m subvectors. Init per subspace = the subvectors of the k
    smallest ids (deterministic, resumable); an empty cluster keeps its
    previous centroid.

    Scale shape: per
    iteration ONE corpus scan — all m·k integer distance expressions
    evaluated as an exact-int64 Arrow batch stage that pre-folds the
    grid per task (see _lloyd_grid_rows) — and ONE map-side-combined
    aggregate to m·k·(dim/m + 1) cells; driver state is m·k·(dim/m)
    ints. Vectors never shuffle; only the vm column crosses the Python
    boundary and only the per-task cell grid reaches the exchange.

    Returns codebooks as nested ints [m][k][d_sub] in micro units."""
    return _lloyd_micro_rounds_multi(base, [(m, k)], iterations, dim)[0]


def _lloyd_micro_rounds_multi(
    base: DataFrame,
    specs: list,
    iterations: int,
    dim: int,
    init_books: list | None = None,
) -> list:
    """`_lloyd_micro_rounds` over several INDEPENDENT codebook sets in
    shared scans: ``specs`` is a list of (m, k). The trajectories never
    feed each other, so per iteration ONE corpus scan folds every spec's
    assignment grid (see _lloyd_grid_rows_multi) — the fused trainer's
    coarse (m=1) and PQ codebooks train in half the scans with
    bit-identical trajectories. ``init_books`` resumes given codebooks
    instead of the deterministic smallest-id init (used when specs have
    unequal iteration budgets). Returns books aligned with specs."""
    for m, _ in specs:
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
    if init_books is None:
        kmax = max(k for _, k in specs)
        init_rows = base.orderBy("id").limit(kmax).collect()
        if len(init_rows) < kmax:
            raise ValueError(
                f"_lloyd_micro_rounds: k={kmax} exceeds corpus size "
                f"{len(init_rows)}"
            )
        books_list = []
        for m, k in specs:
            d_sub = dim // m
            books_list.append(
                [
                    [
                        list(r["vm"])[i * d_sub : (i + 1) * d_sub]
                        for r in init_rows[:k]
                    ]
                    for i in range(m)
                ]
            )
    else:
        books_list = [b for b in init_books]

    for _ in range(int(iterations)):
        # ONE Arrow-folded assignment scan + grid merge for ALL specs
        # (see _lloyd_grid_rows for the exactness and plan-shape argument)
        grids = _lloyd_grid_rows_multi(
            base,
            [
                (books_list[g], m, k, dim // m)
                for g, (m, k) in enumerate(specs)
            ],
        )
        for g, (m, k) in enumerate(specs):
            d_sub = dim // m
            # bounded: <= m·k rows of d_sub+3 ints per spec
            got = {
                # exact half-up recentering: no 2^53 float cliff, and
                # the oracle uses the same non-negative-remainder floor
                (int(r["s"]), int(r["code"])): [
                    _recenter_micro(r[f"s{j}"], r["n"]) for j in range(d_sub)
                ]
                for r in grids[g]
            }
            books_list[g] = [
                [got.get((i, j), books_list[g][i][j]) for j in range(k)]
                for i in range(m)
            ]
    return books_list


def pq_train_codebooks_lloyd(
    corpus: DataFrame,
    m_subvectors: int = 4,
    k_codes: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """DISTRIBUTED per-subspace PQ codebook training — the train stage
    of the IVF-PQ loop, audited on its own. Every assignment scans the
    full corpus map-side against broadcast-literal centroids and every
    update is one map-side-combined aggregate — the shape that holds at
    10⁹ vectors, where a driver-sample fit misplaces small code cells.
    ``m_subvectors=1`` trains full-vector (k-means) centroids.

    Returns the training audit at (subspace, code) grain after
    ``iterations`` rounds plus a final assignment: n_vecs, inertia
    (summed squared subvector distance, original units, 6dp) and
    centroid_l1 (L1 norm of the trained centroid, original units, 6dp —
    the codebook VALUES are in the hash, not just member counts)."""
    from pyspark import StorageLevel

    m, k = int(m_subvectors), int(k_codes)
    if m < 1 or k < 1:
        raise ValueError("m_subvectors and k_codes must be >= 1")
    vm = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 1e6, 0).cast("long"),
    )
    base = corpus.select(F.col(id_col).alias("id"), vm.alias("vm"))
    if dim is None:
        first = base.select(F.size("vm").alias("d")).first()
        if first is None:
            raise ValueError("pq_train_codebooks_lloyd: empty corpus")
        dim = int(first["d"])
    d_sub = dim // m
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        base.count()  # materialize once for the iterations+1 passes
        books = _lloyd_micro_rounds(base, m, k, iterations, dim)
        # Final audit pass: the same Arrow grid scan with the exact
        # integer distance sum folded per cell (dist re-adds the |v|²
        # term the argmin score drops). The old struct-min tie order
        # (d, s, code) is preserved: s is fixed per subspace and numpy
        # argmin ties to the smallest code.
        rows = [
            {"s": r["s"], "code": r["code"], "n_vecs": r["n"], "dsum": r["dsum"]}
            for r in _lloyd_grid_rows(base, books, m, k, d_sub, with_dist=True)
        ]
    finally:
        base.unpersist()
    by_cell = {(int(r["s"]), int(r["code"])): r for r in rows}
    out = []
    for i in range(m):
        for j in range(k):
            r = by_cell.get((i, j))
            l1 = round(sum(abs(int(x)) for x in books[i][j]) / 1e6, 6)
            out.append(
                (
                    i,
                    j,
                    int(r["n_vecs"]) if r else 0,
                    round(int(r["dsum"]) / 1e12, 6) if r else 0.0,
                    l1,
                )
            )
    spark = corpus.sparkSession
    return spark.createDataFrame(
        out,
        "subspace int, code int, n_vecs long, inertia double, "
        "centroid_l1 double",
    ).orderBy("subspace", "code")


@dataclass
class TrainedIvfPq:
    """Trained IVF+PQ parameters in integer micro-units — the driver-side
    artifact of the train stage (tiny: k_cells·dim + m·k_codes·(dim/m)
    longs), consumed by encode and serve."""

    cents: list  # k_cells × dim coarse IVF centroids (micro ints)
    books: list  # m × k_codes × (dim/m) PQ codebooks (micro ints)
    dim: int


def _micro_base(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vm) with vm = round(x·1e6) integer micro vector — the one
    quantization point of the whole trained-ANN loop.

    Integer-id contract (r14, from the r13 ADVICE): the Arrow encode
    stage emits ids as ``long`` (the serving-index grain is
    ``vec_id long``), so the id column must be an integral type —
    byte/short/int widen losslessly, but a string or other non-integer
    id would fail opaquely inside the Arrow stage. Checked here, once,
    with a clear error."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = corpus.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"ivf-pq id column {id_col!r} must be an integral type "
            f"(serving index carries vec_id as long), got "
            f"{id_type.simpleString()}"
        )
    vm = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 1e6, 0).cast("long"),
    )
    return corpus.select(
        F.col(id_col).cast("long").alias("id"), vm.alias("vm")
    )


def _encode_from_base(base: DataFrame, params: TrainedIvfPq) -> DataFrame:
    """Map-only encode of a micro-int (id, vm) frame into the serving
    index grain (vec_id, cell, m codes).

    r13: the per-row argmins (1 coarse over dim + m PQ over dim/m, each
    previously an interpreted ``aggregate(zip_with(...))`` fold per
    centroid) run as ONE Arrow batch stage with exact int64 numpy
    arithmetic — same score form and tie rule as ``_lloyd_grid_rows``
    (|c|² − 2·v·c, first-min = smallest index), so cells and codes are
    bit-identical to the expression form; the stage stays map-only and
    only (id, vm) crosses the Python boundary."""
    import pyarrow as pa

    m = len(params.books)
    d_sub = params.dim // m
    dim = params.dim
    CC = np.array(params.cents, dtype=np.int64)  # k_cells x dim
    ccn = (CC * CC).sum(axis=1)
    B = np.array(params.books, dtype=np.int64)  # m x k_codes x d_sub
    bn = (B * B).sum(axis=2)
    pa_schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("cell", pa.int32()),
            ("code", pa.list_(pa.int32())),
        ]
    )

    def enc_fn(it):
        for batch in it:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            if len(ids) == 0:
                continue
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            arr = flat.reshape(-1, dim).astype(np.int64, copy=False)
            cell = np.argmin(ccn[None, :] - 2 * (arr @ CC.T), axis=1)
            codes = np.empty((arr.shape[0], m), dtype=np.int32)
            for i in range(m):
                sub = arr[:, i * d_sub : (i + 1) * d_sub]
                codes[:, i] = np.argmin(
                    bn[i][None, :] - 2 * (sub @ B[i].T), axis=1
                )
            offsets = pa.array(
                np.arange(0, (arr.shape[0] + 1) * m, m, dtype=np.int32)
            )
            code_arr = pa.ListArray.from_arrays(
                offsets, pa.array(codes.ravel())
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids.astype(np.int64, copy=False)),
                    pa.array(cell.astype(np.int32)),
                    code_arr,
                ],
                schema=pa_schema,
            )

    return base.select("id", "vm").mapInArrow(
        enc_fn, "vec_id long, cell int, code array<int>"
    )


def _collect_query_micros(queries: DataFrame, id_col: str, vec_col: str):
    """Micro-quantize and collect the query set (small-broadcast
    contract: query LUTs are driver-computed)."""
    qvm = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 1e6, 0).cast("long"),
    )
    return queries.select(
        F.col(id_col).alias("query_id"), qvm.alias("qm")
    ).collect()


def _serve_from_index(
    enc: DataFrame,
    base: DataFrame,
    q_rows,
    params: TrainedIvfPq,
    k: int,
    nprobe: int,
    shortlist: int,
    spark,
) -> DataFrame:
    """The three-tier serve over an encoded index: IVF cell probe →
    ADC shortlist → exact integer-micro² re-rank. ``enc`` may be the
    just-encoded frame or an index reloaded from parquet; ``base``
    supplies full vectors for the exact stage (fetched by id only for
    shortlist·|Q| rows)."""
    m = len(params.books)
    kc = len(params.books[0])
    d_sub = params.dim // m

    # --- PROBE + LUT: driver-side exact-integer math on the tiny
    # query set (same (dist, index) tie order as the oracle)
    def pd2(a, b):
        return sum((int(x) - int(y)) * (int(x) - int(y)) for x, y in zip(a, b))

    qcells, luts, qfull = [], [], []
    for r in q_rows:
        qm = [int(x) for x in r["qm"]]
        cd = sorted(
            (pd2(qm, c), j) for j, c in enumerate(params.cents)
        )[: int(nprobe)]
        for _, cell in cd:
            qcells.append((int(r["query_id"]), cell))
        lut = [
            pd2(qm[i * d_sub : (i + 1) * d_sub], params.books[i][j])
            for i in range(m)
            for j in range(kc)
        ]
        luts.append((int(r["query_id"]), lut))
        qfull.append((int(r["query_id"]), qm))
    qcells_df = spark.createDataFrame(qcells, "query_id long, cell int")
    lut_df = spark.createDataFrame(luts, "query_id long, lut array<long>")
    q_df = spark.createDataFrame(qfull, "query_id long, qm array<long>")

    adc = sum(
        (
            F.element_at(
                F.col("lut"),
                F.lit(i * kc + 1)
                + F.element_at(F.col("code"), i + 1),
            )
            for i in range(m)
        ),
        start=F.lit(0).cast("long"),
    )
    cand = (
        enc.join(F.broadcast(qcells_df), on="cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut_df), on="query_id")
        .select("query_id", "vec_id", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("vec_id")
    )
    short = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(shortlist))
        .select("query_id", "vec_id")
    )

    # --- EXACT: integer micro² L2 on the shortlist only
    l2 = F.aggregate(
        F.zip_with(
            F.col("vm"), F.col("qm"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rescored = (
        short.join(base.withColumnRenamed("id", "vec_id"), on="vec_id")
        .join(F.broadcast(q_df), on="query_id")
        .select("query_id", "vec_id", l2.alias("d"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.asc("d"), F.asc("vec_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= int(k))
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("d") / F.lit(1e12), 6).alias("distance"),
            "rank",
        )
    )


def _train_coarse_and_pq(
    base: DataFrame,
    k_cells: int,
    coarse_iterations: int,
    m_subvectors: int,
    k_codes: int,
    pq_iterations: int,
    dim: int,
):
    """Train the coarse (m=1) centroids and PQ codebooks with SHARED
    per-iteration scans for the iterations the two budgets have in
    common (they usually match), then finish any remainder per spec.
    Trajectories are independent, so the result is bit-identical to two
    separate _lloyd_micro_rounds calls — in half the corpus scans."""
    shared = min(coarse_iterations, pq_iterations)
    books_c, books_p = _lloyd_micro_rounds_multi(
        base, [(1, k_cells), (m_subvectors, k_codes)], shared, dim
    )
    if coarse_iterations > shared:
        books_c = _lloyd_micro_rounds_multi(
            base,
            [(1, k_cells)],
            coarse_iterations - shared,
            dim,
            init_books=[books_c],
        )[0]
    if pq_iterations > shared:
        books_p = _lloyd_micro_rounds_multi(
            base,
            [(m_subvectors, k_codes)],
            pq_iterations - shared,
            dim,
            init_books=[books_p],
        )[0]
    return books_c[0], books_p


def trained_ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k_cells: int = 4,
    coarse_iterations: int = 2,
    m_subvectors: int = 4,
    k_codes: int = 4,
    pq_iterations: int = 2,
    k: int = 3,
    nprobe: int = 2,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """The CLOSED train→encode→serve ANN loop in one query: distributed
    Lloyd trains the IVF coarse centroids (full-vector grain) AND the PQ
    codebooks (subvector grain) on the corpus itself, then the trained
    parameters drive the three-tier serving shape — IVF cell probe →
    ADC shortlist → exact re-rank. No fixed parameter file anywhere;
    this is the production pipeline end-to-end.

    Exactness: the ENTIRE loop — training trajectories, cell argmins,
    PQ codes, ADC lookup tables, exact re-rank — is integer micro-unit
    arithmetic (round(x·1e6) once), so an unrolled DuckDB oracle replays
    it bit-for-bit; there is no float fold anywhere to order-diverge.

    The corpus ``id_col`` must be an integral type (the serving grain is
    ``vec_id long``; narrower integers widen losslessly) — enforced up
    front with a clear TypeError (r13 ADVICE).

    Scale shape: training = (max(coarse_iterations, pq_iterations) + 2)
    scans of the persisted micro frame — coarse and PQ trajectories are
    independent, so each shared iteration folds BOTH assignment grids in
    one Arrow-batched scan (r13; see _lloyd_grid_rows_multi) — each ONE
    map-side-combined aggregate (k·(dim+1) then m·k·(dim/m+1) cells,
    exact int64 numpy inside the scan); serving = one
    map-only encode pass producing the (vec_id, cell, m codes) index,
    a broadcast cell equi-join (never a full scan per query), ADC as m
    integer lookups, and an id-join exact stage that materializes only
    shortlist·|Q| full vectors. Queries are a small broadcast set by
    contract (their integer LUTs are driver-computed).

    Returns (query_id, vec_id, distance, rank): exact squared L2 in
    original units (micro²/1e12), 6dp; rank ties by vec_id."""
    from pyspark import StorageLevel

    if k < 1 or nprobe < 1 or shortlist < k:
        raise ValueError("need k >= 1, nprobe >= 1, shortlist >= k")
    spark = corpus.sparkSession
    base = _micro_base(corpus, id_col, vec_col)
    if dim is None:
        first = base.select(F.size("vm").alias("d")).first()
        if first is None:
            raise ValueError("trained_ivf_pq_topk: empty corpus")
        dim = int(first["d"])
    q_rows = _collect_query_micros(queries, id_col, vec_col)

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        base.count()
        # --- TRAIN: coarse centroids (m=1) + PQ codebooks (subspace),
        # shared per-iteration scans (independent trajectories), against
        # the SAME persisted base the encode and exact stages read ---
        cents, books = _train_coarse_and_pq(
            base,
            int(k_cells),
            int(coarse_iterations),
            int(m_subvectors),
            int(k_codes),
            int(pq_iterations),
            dim,
        )
        params = TrainedIvfPq(cents=cents, books=books, dim=dim)
        # --- ENCODE: the (vec_id, cell, m codes) serving index, map-only
        enc = _encode_from_base(base, params)
        # --- PROBE + ADC + EXACT
        out = _serve_from_index(
            enc,
            base,
            q_rows,
            params,
            k=int(k),
            nprobe=int(nprobe),
            shortlist=int(shortlist),
            spark=spark,
        )
        # materialize before unpersist: the returned frame must not
        # depend on the released cache
        return out.localCheckpoint(eager=True)
    finally:
        base.unpersist()
