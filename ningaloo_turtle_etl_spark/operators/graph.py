"""Graph operators for dedup clustering: near-dup PAIRS (from MinHash /
SimHash / n-gram Jaccard) are only half the job — dedup needs the
transitive clusters and one representative per cluster.

``connected_components`` is iterative min-label propagation with pointer
jumping: every node starts labeled with its own id; each round takes the
min of its own and its neighbors' labels, then shortcuts label ←
label(label). The shortcut doubles the distance a label travels per round,
so convergence is O(log diameter) rounds, not O(diameter) — the same
geometric contraction as the map-reduce small-star/large-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond"). Each
round is two joins + one aggregation — all distributed, nothing
driver-side but the convergence counter — and each round's result is
eagerly ``localCheckpoint``-ed, truncating the logical plan so the plan
(and Catalyst analysis cost) stays O(1) per round instead of growing with
the iteration count. On a real cluster with lineage-reliability
requirements, swap localCheckpoint for checkpoint + a checkpoint dir.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Undirected edges → (id, component), component = min id reachable.
    Raises if not converged within ``max_iterations`` (component diameter
    bound — near-dup graphs converge in a handful)."""
    edges = pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # Persist PRE-PARTITIONED on dst: every round's edges⋈labels join
    # requires hashpartitioning(dst), and a cached frame that already
    # carries it lets Catalyst skip the edge-side exchange each round —
    # one up-front shuffle instead of one per pointer-jumping round
    # (~log2(diameter) rounds × |E| rows saved; the r11 sf1 probe spent
    # its tail re-exchanging 1.9M edges every round).
    edges = edges.repartition("dst").persist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iterations):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("component").alias("nmin"))
            )
            stepped = labels.join(
                neighbor_min, labels.id == neighbor_min.src, "left"
            ).select(
                "id",
                F.col("component").alias("old"),
                F.least(
                    F.col("component"), F.coalesce("nmin", F.col("component"))
                ).alias("mid"),
            )
            # Pointer jump: component ← component(component). Every label is
            # itself a node id, so the self-join shortcuts chains, doubling
            # effective propagation distance per round.
            lookup = stepped.select(
                F.col("id").alias("cid"), F.col("mid").alias("cc")
            )
            jumped = F.coalesce("cc", F.col("mid"))
            # The old label rides along so convergence is a filter on the
            # checkpointed frame, not another join job per round. r14
            # (guide §1.2): the checkpoint is LAZY and the convergence
            # count is the materializing action — one Spark job per round
            # where the eager checkpoint + separate limit-1 count paid
            # two. The count scans every partition (no limit), so the
            # local checkpoint finalizes completely in that same job.
            new_labels = (
                stepped.join(lookup, stepped.mid == lookup.cid, "left")
                .select(
                    "id",
                    jumped.alias("component"),
                    (jumped != F.col("old")).alias("chg"),
                )
                .localCheckpoint(eager=False)
            )
            changed = new_labels.filter("chg").count()
            labels = new_labels.select("id", "component")
            if changed == 0:
                return labels
        raise RuntimeError(
            f"connected_components: no convergence in {max_iterations} rounds "
            "(component diameter exceeds the bound — raise max_iterations)"
        )
    finally:
        edges.unpersist()


def cluster_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Dedup by cluster: every doc maps to its component's min id (singletons
    map to themselves); keep the min-id representative PRESENT IN ``docs``
    per component — the 'collapse near-dup clusters' step after any
    pair-producing stage.

    The representative is elected among the rows actually in ``docs``, not
    by ``id == component``: when pairs reference an id that was filtered out
    of ``docs`` upstream (pair generation ran before a later filter), the
    component min may be absent, and the old identity test silently dropped
    the ENTIRE cluster (r04 review; best_cluster_representatives already
    handled this). Election is a narrow (component, id) shuffle + id
    semi-join — bodies stay map-side."""
    from pyspark.sql.window import Window

    comp = connected_components(pairs, src_col, dst_col)
    labeled = docs.select(id_col).join(
        comp.withColumnRenamed("id", id_col), on=id_col, how="left"
    ).withColumn("component", F.coalesce("component", F.col(id_col)))
    w = Window.partitionBy("component").orderBy(F.asc(id_col))
    keepers = (
        labeled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col)
    )
    return docs.join(keepers, on=id_col, how="left_semi")


def best_cluster_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Quality-aware dedup: keep the HIGHEST-``score_col`` row of each
    near-dup component (ties broken by min id so output is deterministic),
    instead of the min-id row. This is what production dedup actually wants
    — when a boilerplate-laden copy and a clean copy collide, keep the
    clean one. Costs one extra narrow shuffle vs cluster_representatives:
    a (component, score, id) window ranks representatives; bodies stay on
    the map side of the final semi-join."""
    from pyspark.sql.window import Window

    comp = connected_components(pairs, src_col, dst_col)
    labeled = docs.select(id_col, score_col).join(
        comp.withColumnRenamed("id", id_col), on=id_col, how="left"
    ).withColumn("component", F.coalesce("component", F.col(id_col)))
    w = Window.partitionBy("component").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    keepers = (
        labeled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col)
    )
    return docs.join(keepers, on=id_col, how="left_semi")


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank by synchronous power iteration over an edge list —
    (node, rank) after ``iterations`` rounds of

        rank(v) ← (1 − d) + d · Σ_{u→v} rank(u) / outdeg(u)

    (the classic un-normalized form, so ranks average to 1.0 and an
    isolated-change comparison doesn't need the node count). Edges are
    treated as DIRECTED; symmetrize upstream for an undirected graph.
    Nodes with no out-edges (dangling) keep contributing nothing — their
    mass simply decays toward (1 − d), the standard simplification when
    ranks are used for ordering rather than as true probabilities.

    Determinism across engines: ranks live as integer MICRO-units; each
    edge contribution rounds d·rank/outdeg to a whole micro before the
    sum, so the per-node reduce is exact-integer and summation order can
    never move a result — the same convention as zipf_fit/bm25. Scale
    shape: each round is one (src-keyed) join of the rank vector onto the
    out-degree-annotated edges plus one dst-keyed aggregation — the rank
    vector is node-sized, edges never re-shuffle if pre-partitioned by
    src; rounds are driver-counted only (same shape as
    connected_components), with a localCheckpoint per round so the plan
    stays O(1)."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = e.join(outdeg, on="src").persist()
    # nodes derive from the PERSISTED ed (every edge row survives the
    # outdeg join), not from e — a second reference to e would recompute
    # the whole upstream edge build (for co-purchase graphs, the
    # order-key self-join) once more just to list the vertices
    nodes = (
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    base_micro = int(round((1.0 - damping) * 1e6))
    ranks = nodes.select(
        "node", F.lit(1_000_000).cast("long").alias("rank_micro")
    )
    for _ in range(iterations):
        contrib = ed.join(
            ranks, on=ed.src == ranks.node, how="inner"
        ).select(
            F.col("dst").alias("node"),
            F.round(
                F.lit(damping) * F.col("rank_micro") / F.col("outdeg"), 0
            )
            .cast("long")
            .alias("c"),
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(summed, on="node", how="left")
            .select(
                "node",
                (F.lit(base_micro) + F.coalesce("s", F.lit(0)))
                .cast("long")
                .alias("rank_micro"),
            )
            .localCheckpoint(eager=True)
        )
    ed.unpersist()
    nodes.unpersist()
    return ranks.select(
        "node", F.round(F.col("rank_micro") / 1e6, 6).alias("rank")
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Multi-source BFS: (node, hops) where hops is the MINIMUM number of
    directed edges from any seed, up to ``max_hops`` (unreached nodes are
    absent). The canonical frontier expansion — the building block of
    k-hop neighborhoods, reachability filters, and taint/contamination
    spread over citation or link graphs.

    Each round joins only the FRONTIER (nodes first reached last round)
    onto the edge list, then anti-joins the visited set — work per round
    is frontier-sized, never graph-sized, and a node is expanded exactly
    once ever (the textbook parallel-BFS invariant), so total work across
    all rounds is one pass over the reachable edges. Rounds are
    driver-counted with a localCheckpoint per round (O(1) lineage, same
    convention as pagerank/connected_components); hops are exact
    integers, no float anywhere. The DuckDB oracle states the same
    semantics independently as a depth-bounded recursive CTE with a
    MIN(hops) rollup."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    e = e.persist()
    visited = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        # r14 (guide §1.2): lazy checkpoint + full count fuses the
        # frontier materialization and the emptiness check (the full
        # count evaluates every partition, so the local checkpoint
        # finalizes completely in the same job — a limit-1 probe over a
        # lazy checkpoint would skip partitions and lose blocks).
        # Measured honestly: job count is a WASH here — the fused
        # count's final-aggregate exchange job replaces the removed
        # isEmpty job one-for-one (measured 44 → 44 jobs) — but the
        # frontier is no longer computed ahead of a probe that reads
        # one partition, and wall time reads slightly better.
        nxt = (
            frontier.join(e, on=frontier.node == e.src, how="inner")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), on="node", how="left_anti")
            .withColumn("hops", F.lit(h))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    e.unpersist()
    return visited


def copurchase_edges(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_shared: int = 1,
) -> DataFrame:
    """Symmetric co-occurrence edges: items sharing an order, one edge per
    DISTINCT ordered pair (both directions, no self-loops, multi-order
    pairs collapsed). ``min_shared`` > 1 keeps only pairs co-occurring in
    at least that many orders — the support threshold that turns the
    near-clique per-order blowup into a sparse affinity graph. The
    self-join is order-keyed — at scale, orders are small groups, so the
    quadratic blowup is per-order, never global."""
    a = lineitem.select(
        F.col(order_col).alias("ok"), F.col(item_col).alias("src")
    ).distinct()
    b = a.select(F.col("ok"), F.col("src").alias("dst"))
    pairs = a.join(b, on="ok").where(F.col("src") != F.col("dst"))
    if min_shared <= 1:
        return pairs.select("src", "dst").distinct()
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_shared)
        .select("src", "dst")
    )


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficients over an
    undirected graph (edges may arrive directed/duplicated — they are
    canonicalized to distinct a<b pairs first).

    Triangle enumeration is the two-join wedge-close: oriented edges
    (a<b) joined into wedges a<b<c, closed against the edge set — each
    triangle materializes exactly once. Per-node counts come from
    exploding each triangle's three corners; the clustering coefficient
    is triangles / C(degree, 2).

    Scale shape: the classic orientation trick bounds the wedge join —
    building wedges only at a triangle's SMALLEST corner caps per-node
    wedge fan-out by the out-degree in the orientation (high-degree hubs
    mostly receive, not emit, oriented edges). Wedge volume is
    Σ C(outdeg, 2); at 100 TB pre-bucket the oriented edge table on its
    join keys so both joins are co-located."""
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # wedges rooted at the smallest corner: (a<b) ⋈ (a<c), b<c
    w1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    w2 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    wedges = w1.join(w2, on="x").where(F.col("y") < F.col("z"))
    closed = wedges.join(
        e.select(F.col("a").alias("y"), F.col("b").alias("z")),
        on=["y", "z"],
        how="left_semi",
    )
    corners = (
        closed.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = (
        deg.join(corners, on="node", how="left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    F.coalesce("triangles", F.lit(0))
                    / (
                        F.col("degree")
                        * (F.col("degree") - 1)
                        / F.lit(2.0)
                    ),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )
    from ningaloo_turtle_etl_spark.operators.cache import track_cache

    track_cache(e)
    return out


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """The k-core of an undirected graph — the maximal subgraph where every
    node keeps degree >= k — by synchronous peeling: drop all nodes with
    degree < k, recompute degrees on the surviving subgraph, repeat to
    fixpoint. The standard dense-substructure filter (spam rings, tight
    co-purchase clusters) that a plain degree cut can't express, because
    removing one weak node can strip its neighbors too.

    Returns (node, core_degree) — each surviving node's degree WITHIN the
    core. Deterministic: synchronous rounds have no tie-break freedom.

    Scale shape: each round is one degree aggregate plus two semi-joins
    against the shrinking survivor set (node-sized, not edge-sized); the
    edge table only ever shrinks. A localCheckpoint per round truncates
    the plan like the other iterative graph ops. Rounds needed = peeling
    depth (<= max degree, tiny in practice); raises if not converged so a
    silent partial core can't masquerade as the real one."""
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # r14 (guide §1.2): carry the surviving-edge count in a driver
    # variable so the fixpoint test is ONE fused job per round (lazy
    # checkpoint materialized by its own full count) instead of three
    # (eager checkpoint + pruned.count + a recount of the unchanged e).
    n_e = e.count()
    for _ in range(max_iterations):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        # keep stays EAGER: two semi-join branches consume it in the same
        # pruned job, so it must be materialized before that job runs
        keep = deg.filter(F.col("degree") >= k).select("node").localCheckpoint(
            eager=True
        )
        pruned = (
            e.join(keep.withColumnRenamed("node", "a"), on="a", how="left_semi")
            .join(keep.withColumnRenamed("node", "b"), on="b", how="left_semi")
            .localCheckpoint(eager=False)
        )
        n_pruned = pruned.count()
        if n_pruned == n_e:
            return (
                pruned.select(F.col("a").alias("node"))
                .unionByName(pruned.select(F.col("b").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("core_degree"))
            )
        e, n_e = pruned, n_pruned
    raise RuntimeError(
        f"k_core: no convergence in {max_iterations} peeling rounds"
    )


def label_propagation_communities(
    edges: DataFrame,
    rounds: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan et
    al. 2007, the near-linear community algorithm): every node starts as
    its own label; each round, a node adopts the label most frequent
    among its neighbors, ties broken by the SMALLEST label. Fixed
    ``rounds`` synchronous updates — deterministic and cross-engine
    replayable (asynchronous/randomized LPA converges faster but is
    RNG-ordered; the fixed-round synchronous form is the one an oracle
    can replay, same policy as :func:`pagerank`'s fixed iterations).
    Complements :func:`connected_components` (which merges everything
    touching) by finding DENSE sub-groups inside one component.

    Input must be a symmetric edge list (see :func:`copurchase_edges`).
    Output: (node, community) — community = the final label.

    Scale shape: each round is one edge-keyed join against the
    node-label frame plus a (node, label) count and a per-node argmax
    window — all linear in |E|; a localCheckpoint per round truncates
    the growing plan exactly as in connected_components. Synchronous
    LPA can oscillate on bipartite-ish structure; fixed rounds bound
    that instead of spinning."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    from pyspark.sql.window import Window

    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        e.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("a").orderBy(F.desc("_n"), F.asc("label"))
    for _ in range(int(rounds)):
        neigh = e.join(
            labels.select(F.col("node").alias("b"), "label"), on="b"
        )
        counts = neigh.groupBy("a", "label").agg(
            F.count(F.lit(1)).alias("_n")
        )
        labels = (
            counts.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(F.col("a").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("label").alias("community"))


def hits_scores(
    edges: DataFrame,
    iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) by synchronous power
    iteration over a DIRECTED edge list: each round,

        auth(v) ← Σ_{u→v} hub(u),   hub(u) ← Σ_{u→v} auth(v),

    each vector sum-normalized after its half-step. PageRank ranks by
    endorsement flow; HITS separates the two roles a catalog / link graph
    mixes — parts that ANCHOR baskets (authorities) vs parts that BIND
    broad baskets together (hubs).

    Determinism across engines (the pagerank integer-micro convention):
    scores are integer micro-units; raw sums are exact-integer; the
    sum-normalization requantizes via the exact integer half-up division
    floor(raw·1e6/total + 1/2) = (2·raw·1e6 + total) div (2·total) — no
    double division anywhere (2·raw·1e6 exceeds double's 2^53 exact-int
    range long before it exceeds BIGINT), so the whole fit replays
    bit-for-bit in the unrolled DuckDB oracle.

    Returns (node, auth, hub), micro/1e6 at 6dp, after ``iterations``
    full rounds.

    Scale shape: each round is two (rank-vector ⋈ edges → key-grouped
    exact-integer reduce) passes plus a 1-row broadcast total — identical
    join geometry to pagerank; localCheckpoint per round keeps lineage
    O(1). Edges and the node list persist across rounds and release
    before return."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    from pyspark import StorageLevel

    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        hub = nodes.select(
            "node", F.lit(1_000_000).cast("long").alias("m")
        )
        auth = None

        def _half_step(
            vec: DataFrame, key_in: str, key_out: str, checkpoint: bool
        ) -> DataFrame:
            """One HITS half-step: propagate `vec` (node, m) across edges
            from `key_in` to `key_out`, then integer-renormalize. Only the
            END of each full round checkpoints (the hub): the auth
            half-step is consumed exactly once by the hub step that
            follows, so materializing it separately just doubles the
            job/checkpoint count; plan depth stays O(1) because each
            round starts from a checkpointed hub. The vector stays SPARSE
            through the loop — nodes with no contribution are simply
            absent (raw=0 → m=0: absent rows add nothing to the total,
            propagate nothing, and requantize to 0), so the per-half-step
            zero-fill join the r9 form carried was 2 shuffles/round of
            pure overhead (A/B: 13.7 s → 6.4 s warm at 100k edges, bench
            `hits_100k_edges`); the zero rows materialize once in the
            output join instead."""
            summed = (
                e.join(vec, on=e[key_in] == vec["node"])
                .groupBy(F.col(key_out).alias("node"))
                .agg(F.sum("m").cast("long").alias("raw"))
            )
            tot = summed.agg(F.sum("raw").cast("long").alias("tot"))
            out = summed.crossJoin(F.broadcast(tot)).select(
                "node",
                F.expr(
                    "CASE WHEN tot > 0 THEN"
                    " (2 * raw * 1000000 + tot) div (2 * tot)"
                    " ELSE CAST(0 AS BIGINT) END"
                ).alias("m"),
            )
            return out.localCheckpoint(eager=True) if checkpoint else out

        last = int(iterations) - 1
        for i in range(int(iterations)):
            # the final round's auth IS returned, so it checkpoints too
            # (otherwise the output join would recompute its half-step)
            auth = _half_step(hub, "src", "dst", checkpoint=(i == last))
            hub = _half_step(auth, "dst", "src", checkpoint=True)
        # eager-checkpoint the output BEFORE releasing the inputs so the
        # returned plan doesn't silently recompute the persisted lineage;
        # left joins + coalesce zero-fill the nodes the sparse vectors
        # never reached (sinks' hub, sources' auth).
        return (
            nodes.join(
                auth.select("node", F.col("m").alias("am")),
                on="node",
                how="left",
            )
            .join(
                hub.select("node", F.col("m").alias("hm")),
                on="node",
                how="left",
            )
            .select(
                "node",
                F.round(F.coalesce("am", F.lit(0)) / 1e6, 6).alias("auth"),
                F.round(F.coalesce("hm", F.lit(0)) / 1e6, 6).alias("hub"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        e.unpersist()
        nodes.unpersist()


def adamic_adar_links(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_degree: int = 1000,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected graph: for each
    non-adjacent node pair (a, b), score = Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z)
    — common neighbors weighted by how SELECTIVE they are (a shared
    niche neighbor says more than a shared hub). The standard
    recommendation/completion baseline one rung above raw
    common-neighbor counts.

    Determinism: each wedge's weight quantizes to integer micros
    (round(1e6/ln(deg z))) BEFORE the per-pair sum, so summation order
    can never move a score (the pagerank convention). Existing edges are
    anti-joined away — the output is PREDICTIONS only:
    (id_a, id_b, n_common, aa_score), id_a < id_b, score 6dp.

    Scale shape: wedges enumerate at the CENTER node — fanout is
    Σ deg(z)², hard-bounded by ``max_degree`` (wedge centers above it are
    dropped; their per-wedge weight ≤ 1/ln(cap) ≈ noise, the same
    hub-cap rationale as the LSH bucket caps — documented recall caveat:
    a pair whose ONLY common neighbors are capped hubs scores 0). Degree
    is one map-side aggregate; everything shuffled is fixed-width."""
    if max_degree < 2:
        raise ValueError("max_degree must be >= 2")
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    und = (
        e.select("a", "b")
        .union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    from pyspark import StorageLevel

    und = und.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        # deg >= 2: a one-neighbor center can't form a pair anyway, and
        # ln(1) = 0 would divide-by-zero under ANSI mode
        centers = (
            und.join(
                deg.filter(
                    (F.col("deg") >= 2) & (F.col("deg") <= int(max_degree))
                ),
                on="a",
            )
            .select(
                F.col("a").alias("z"),
                F.col("b").alias("nb"),
                F.round(F.lit(1e6) / F.log(F.col("deg").cast("double")), 0)
                .cast("long")
                .alias("w"),
            )
        )
        x = centers.select("z", F.col("nb").alias("id_a"), "w")
        y = centers.select("z", F.col("nb").alias("id_b"))
        wedges = x.join(y, on="z").filter(F.col("id_a") < F.col("id_b"))
        scored = wedges.groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("w").cast("long").alias("wm"),
        )
        existing = und.filter(F.col("a") < F.col("b")).select(
            F.col("a").alias("id_a"), F.col("b").alias("id_b")
        )
        out = scored.join(
            existing, on=["id_a", "id_b"], how="left_anti"
        ).select(
            "id_a",
            "id_b",
            "n_common",
            F.round(F.col("wm") / 1e6, 6).alias("aa_score"),
        ).localCheckpoint(eager=True)
        return out
    finally:
        und.unpersist()


def weighted_pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """PageRank over a WEIGHTED edge list — the TextRank recursion
    (Mihalcea & Tarau, EMNLP'04):

        rank(v) ← (1 − d) + d · Σ_{u→v} w(u,v) / strength(u) · rank(u)

    where strength(u) = Σ_k w(u,k) replaces out-degree. Same integer-
    micro determinism contract as :func:`pagerank` (each edge
    contribution rounds d·rank·w/strength to a whole micro before the
    exact-integer per-node reduce) and the same scale shape: one
    rank⋈edges join plus one dst-keyed aggregate per round, node-sized
    rank vector, localCheckpoint keeping lineage O(1).

    Weights stay DOUBLE through strength/contribution: the TextRank
    caller's count weights are integers (exact in double to 2^53, so
    identical results to the former long path), and fractional weights
    now flow through uncorrupted instead of being silently truncated
    by a long cast."""
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    ).persist()
    # materialize e ONCE before it fans out: it feeds both the strength
    # aggregate and the join probe side, and an unpersisted e re-runs
    # the caller's whole edge build (for TextRank, the corpus-wide pair
    # extraction scan) once per branch — the same double-build class as
    # pagerank's r10 node-list fix, one frame earlier in the chain
    e.count()
    strength = e.groupBy("src").agg(F.sum("w").alias("strength"))
    ed = e.join(strength, on="src").persist()
    # nodes from the persisted ed — see pagerank's note on double edge
    # builds
    nodes = (
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    base_micro = int(round((1.0 - damping) * 1e6))
    ranks = nodes.select(
        "node", F.lit(1_000_000).cast("long").alias("rank_micro")
    )
    try:
        for _ in range(iterations):
            contrib = ed.join(
                ranks, on=ed.src == ranks.node, how="inner"
            ).select(
                F.col("dst").alias("node"),
                F.round(
                    F.lit(damping)
                    * F.col("rank_micro")
                    * F.col("w")
                    / F.col("strength"),
                    0,
                )
                .cast("long")
                .alias("c"),
            )
            summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
            ranks = (
                nodes.join(summed, on="node", how="left")
                .select(
                    "node",
                    (F.lit(base_micro) + F.coalesce("s", F.lit(0)))
                    .cast("long")
                    .alias("rank_micro"),
                )
                .localCheckpoint(eager=True)
            )
    finally:
        ed.unpersist()
        nodes.unpersist()
        e.unpersist()
    return ranks.select(
        "node", F.round(F.col("rank_micro") / 1e6, 6).alias("rank")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Personalized PageRank (random walk with restart): plain PageRank
    with the teleport mass restricted to the SEED set —

        rank(v) ← (1 − d)·1[v ∈ S] + d · Σ_{u→v} rank(u) / outdeg(u)

    — so rank measures proximity to the seeds rather than global
    centrality: the "related items to THIS brand/user" recommendation
    query, where global PageRank would just resurface the overall hubs.
    Initial mass sits on the seeds (1.0 each, unnormalized — ranks are
    used relatively, the same convention as :func:`pagerank`); non-seed
    nodes start at 0 and never receive teleport mass.

    Same determinism contract as pagerank (integer micros, per-edge
    contributions rounded before the exact-integer reduce) and the same
    per-round scale shape (rank⋈edges + dst-keyed aggregate, node-sized
    state, localCheckpoint lineage). The seed set joins once, broadcast."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = e.join(outdeg, on="src").persist()
    sd = seeds.select(F.col(seed_col).alias("node")).distinct()
    nodes = (
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
        .join(F.broadcast(sd.withColumn("_s", F.lit(1))), on="node", how="left")
        .select("node", F.coalesce("_s", F.lit(0)).alias("is_seed"))
        .persist()
    )
    base_micro = int(round((1.0 - damping) * 1e6))
    ranks = nodes.select(
        "node",
        (F.col("is_seed") * F.lit(1_000_000)).cast("long").alias("rank_micro"),
    )
    try:
        for _ in range(iterations):
            contrib = ed.join(
                ranks, on=ed.src == ranks.node, how="inner"
            ).select(
                F.col("dst").alias("node"),
                F.round(
                    F.lit(damping) * F.col("rank_micro") / F.col("outdeg"), 0
                )
                .cast("long")
                .alias("c"),
            )
            summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
            ranks = (
                nodes.join(summed, on="node", how="left")
                .select(
                    "node",
                    (
                        F.col("is_seed") * F.lit(base_micro)
                        + F.coalesce("s", F.lit(0))
                    )
                    .cast("long")
                    .alias("rank_micro"),
                )
                .localCheckpoint(eager=True)
            )
    finally:
        ed.unpersist()
        nodes.unpersist()
    return ranks.select(
        "node", F.round(F.col("rank_micro") / 1e6, 6).alias("rank")
    )


def newman_modularity(
    edges: DataFrame,
    communities: DataFrame,
    node_col: str = "node",
    comm_col: str = "community",
) -> DataFrame:
    """Newman modularity of a GIVEN node partition over an undirected
    graph — the quality metric the community-detection stack was
    missing: lpa_copurchase_communities finds a partition, this scores
    one (any partition: LPA labels, brands, shards), answering "how
    much denser inside communities than a degree-preserving random
    rewiring?" Q = Σ_c [L_c/m − (D_c/2m)²].

    Input edges are the symmetric-directed convention used by the rest
    of the graph stack (both directions present, no self-loops), so
    |rows| = 2m, a node's out-row count is its degree, and intra-
    community directed rows = 2L_c — every input to Q is an exact
    bigint on the community grain. Per-community Q terms are micro-
    quantized and summed exactly so the cross-community double
    summation order cannot differ between engines.

    Scale shape: two broadcast-able community lookups (node→community
    is entity-grain), one community-grain aggregate, one single-row
    reduce; edges never self-join and nothing exceeds the community
    grain after the first aggregate. Nodes absent from ``communities``
    (and isolated nodes, which carry no rows) are dropped — document
    the universe at the call site."""
    cs = communities.select(
        F.col(node_col).alias("src"), F.col(comm_col).alias("_cs")
    )
    cd = communities.select(
        F.col(node_col).alias("dst"), F.col(comm_col).alias("_cd")
    )
    e2 = (
        edges.select("src", "dst")
        .join(F.broadcast(cs), on="src")
        .join(F.broadcast(cd), on="dst")
    )
    # Community-grain frame consumed by three branches (terms, the m2
    # scalar, the Q total) — eagerly truncate so the upstream edge
    # build runs ONCE, not once per branch (the weighted_pagerank
    # fan-out lesson).
    per_c = (
        e2.groupBy(F.col("_cs").alias(comm_col))
        .agg(
            F.countDistinct("src").cast("long").alias("n_nodes"),
            F.count(F.lit(1)).cast("long").alias("degree_sum"),
            F.sum(
                (F.col("_cs") == F.col("_cd")).cast("long")
            ).cast("long").alias("intra_directed"),
        )
        .localCheckpoint(eager=True)
    )
    m2 = per_c.agg(F.sum("degree_sum").cast("long").alias("m2"))
    withm = per_c.crossJoin(F.broadcast(m2))
    m2d = F.col("m2").cast("double")
    q_term = (
        F.col("intra_directed").cast("double") / m2d
        - (F.col("degree_sum").cast("double") / m2d)
        * (F.col("degree_sum").cast("double") / m2d)
    )
    terms = withm.select(
        comm_col,
        "n_nodes",
        "degree_sum",
        "intra_directed",
        F.round(q_term, 6).alias("q_term"),
        F.round(q_term * 1e6, 0).cast("decimal(38,0)").alias("_qu"),
    )
    q_tot = terms.agg(F.sum("_qu").alias("_qs")).select(
        F.round(F.col("_qs").cast("double") / F.lit(1e6), 6).alias(
            "modularity"
        )
    )
    return (
        terms.drop("_qu")
        .crossJoin(F.broadcast(q_tot))
        .orderBy(comm_col)
    )


def _truss_edge_support(ed: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical a<b edge frame: the
    two-join wedge closure e(x,y) ⋈ e(y,z) closed by e(x,z), each
    triangle crediting all three of its edges.

    r14 (guide §2.4 / §1.2): the three credits come from ONE Generate
    (explode of a 3-struct array) instead of the former 3-way unionAll
    of projections of the triangle frame. Catalyst performs no plan-
    level CSE across union branches, so the union form executed the
    whole wedge-closure join subtree THREE times per round
    (ReusedExchange only dedupes the shuffle writes feeding the joins,
    not the join/codegen work above them); the explode form enumerates
    triangles once and emits the identical (a, b) multiset, so the
    support counts — and the k_truss oracle — are unchanged. Result
    pin: test_k_truss_mixed_support_and_peel_to_empty."""
    xy = ed.select(F.col("a").alias("x"), F.col("b").alias("y"))
    yz = ed.select(F.col("a").alias("y"), F.col("b").alias("z"))
    xz = ed.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = xy.join(yz, on="y").join(xz, on=["x", "z"])
    sides = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
                F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
            )
        ).alias("s")
    ).select("s.a", "s.b")
    return sides.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )


def k_truss(
    edges: DataFrame,
    k: int = 4,
    max_rounds: int = 16,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-truss decomposition by synchronous peeling (Cohen 2008): keep
    only edges that lie in >= k-2 triangles among SURVIVING edges — the
    cohesion rung ABOVE k_core (every k-truss is inside a (k-1)-core,
    but trussness requires the shared-neighbor witnesses, so it prunes
    tree-like tendrils k-core keeps). The community-backbone filter for
    copurchase/link graphs.

    Canonicalizes to a < b edges; per round, triangles (x < y < z) come
    from the two-join wedge closure — e(x,y) ⋈ e(y,z) on the shared
    middle, closed by e(x,z) — and each triangle credits all three of
    its edges; edges below the support floor peel synchronously.
    Converges when a round removes nothing (peeling is idempotent at
    the fixpoint); raises past ``max_rounds`` — the k_core operator's
    convention, so a too-shallow unrolled oracle can't silently pass.

    Scale shape: each round is one self-join pair on the surviving edge
    set (shuffles edge-grain keys, never the input fact table), one
    support aggregate, one filter; the edge frame is eager-checkpointed
    per round so the next round and the convergence count read
    materialized state, not a growing lineage. Returns the surviving
    edges with their final support: (a, b, support), support >= k-2."""
    if k < 3:
        raise ValueError("k-truss needs k >= 3")
    a, b = F.col(src_col), F.col(dst_col)
    e = (
        edges.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = e.count()

    for _ in range(int(max_rounds)):
        s = _truss_edge_support(e)
        # r14 (guide §1.2): lazy checkpoint + count = ONE job per round
        # (the eager checkpoint + separate count paid two); the full
        # count materializes every partition, finalizing the checkpoint.
        kept = (
            e.join(s, on=["a", "b"], how="left")
            .where(F.coalesce("support", F.lit(0)) >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        m = kept.count()
        if m == n:
            # Fixpoint: kept == e, so the support frame `s` computed two
            # statements up is already support over the final edge set —
            # reuse it rather than paying a second triangle enumeration
            # (the loop's most expensive pass: two self-joins + wedge
            # close + 3-way union + aggregate).
            final = e.join(s, on=["a", "b"], how="left").select(
                "a",
                "b",
                F.coalesce("support", F.lit(0)).cast("long").alias("support"),
            )
            return final.orderBy("a", "b")
        e, n = kept, m
    raise RuntimeError(
        f"k_truss: no fixpoint within {max_rounds} rounds"
    )
