"""Fuzzy record linkage / entity resolution: blocked pairwise edit-distance
matching and transitive cluster canonicalization.

The classic dirty-dimension problem: the same real-world entity appears
under near-identical strings ("cold widget" / "old widget", misspelled
supplier names, OCR'd addresses) and exact grouping undercounts. The
standard pipeline (Fellegi-Sunter framing, blocking from the record-linkage
literature):

1. **Dedup names first** — pair DISTINCT strings, not rows. Name
   cardinality is orders of magnitude below row count on real corpora, so
   the quadratic stage runs on the small set and results join back by
   equality (the same dedup-then-join-back shape as the PCNM scores,
   reference spatial_modelling.Rmd:217-224).
2. **Block** — only pairs sharing a blocking key (phonetic code, token,
   prefix) are compared. Blocking bounds the pair count to
   sum(block_size²)/2; a ``max_block_names`` cap keeps one megablock (a
   degenerate key like '') from going quadratic at scale — capped blocks
   are EXCLUDED from pairing, the documented trade of recall for a hard
   cost bound (pick a finer blocking function instead of raising the cap).
3. **Score** — normalized Levenshtein similarity
   1 − lev(a,b)/max(len(a),len(b)), a pure JVM expression in Spark and a
   builtin in DuckDB, so registered uses carry full value-hash oracles.
4. **Cluster** — matched pairs are edges; transitive closure via
   :func:`~ningaloo_turtle_etl_spark.operators.graph.connected_components`
   (min-label propagation with pointer jumping); the lexicographically
   smallest reachable name canonicalizes the cluster.

Scale shape: one distinct-aggregate over names, a blocked self-join on the
name dimension (never the fact table), CC on the match edges (pairs-sized,
not corpus-sized), and equality joins back to row grain. No all-pairs stage
ever touches row counts.

Relationship to ``operators/relational.py edit_similarity_self_join`` (the
Ed-Join pipeline behind the ``entity_resolution_clusters`` query): that
operator matches at ROW grain under an ABSOLUTE edit budget with q-gram
prefix blocking inferred from the strings; this module matches at
distinct-NAME grain under a LENGTH-NORMALIZED similarity ratio with a
caller-supplied blocking key. Use Ed-Join when ids must pair directly and
"at most k typos" is the contract; use this when names repeat across many
rows and the tolerance should scale with string length — the two cover the
standard dedupe-tool surface between them.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

# Letter→code table of American Soundex (Odell & Russell): labials 1,
# gutturals/sibilants 2, dentals 3, L 4, nasals 5, R 6; vowels + H/W/Y
# map to the separator digit 0.
_PHONETIC_SRC = "BFPVCGJKQSXZDTLMNRAEIOUYHW"
_PHONETIC_DST = "11112222222233455600000000"
# Adjacent same-digit runs collapse via nested two-char replaces: each
# pass halves a run, so 3 passes close runs up to length 8 (far beyond
# any real word). The SAME mechanism runs in both engines — a regex
# backreference would be exact in Spark but RE2-based DuckDB has no
# backreferences, and two different mechanisms is how cross-engine
# drift starts.
_COLLAPSE_PASSES = 3


def phonetic_code(name: Column) -> Column:
    """Portable Soundex-style phonetic code (letter + 3 digits) as a pure
    Catalyst expression — the standard out-of-the-box blocking key for
    :func:`blocked_fuzzy_pairs` ("smith"/"smyth", "peru"/"perou" land in
    one block). Simplified from full American Soundex in one documented
    way: H/W act as separators like vowels (same-code letters split by
    ANY of them are coded twice), because the H/W look-through rule needs
    a scan no fixed expression chain replays portably. Blocking only
    needs a stable equivalence — both engines compute this IDENTICAL
    chain (`phonetic_code_sql` is the DuckDB twin), so registered uses
    carry full value-hash oracles unlike the engine-specific builtin
    ``F.soundex``."""
    u = F.upper(name)
    d = F.translate(u, _PHONETIC_SRC, _PHONETIC_DST)
    for _ in range(_COLLAPSE_PASSES):
        for dig in "0123456":
            d = F.replace(d, F.lit(dig + dig), F.lit(dig))
    rest = F.replace(F.substring(d, 2, 1000), F.lit("0"), F.lit(""))
    return F.concat(
        F.substring(u, 1, 1),
        F.substring(F.concat(rest, F.lit("000")), 1, 3),
    )


def phonetic_code_sql(expr: str) -> str:
    """DuckDB replay of :func:`phonetic_code` — byte-identical chain
    (same translate table, same nested-replace collapse, same padding)
    over any SQL string expression."""
    s = f"translate(upper({expr}), '{_PHONETIC_SRC}', '{_PHONETIC_DST}')"
    for _ in range(_COLLAPSE_PASSES):
        for dig in "0123456":
            s = f"replace({s}, '{dig}{dig}', '{dig}')"
    s = f"replace(substr({s}, 2, 1000), '0', '')"
    return f"substr(upper({expr}), 1, 1) || substr({s} || '000', 1, 3)"


def blocked_fuzzy_pairs(
    df: DataFrame,
    name_col: str,
    block_fn: Callable[[Column], Column],
    threshold: float = 0.75,
    max_block_names: int = 5000,
) -> DataFrame:
    """Candidate match pairs over DISTINCT names: within each block
    (``block_fn`` applied to the name), all a<b pairs with normalized
    Levenshtein similarity >= ``threshold``. The threshold gates the
    UNROUNDED similarity; the output ``sim`` column is rounded to 6dp
    (release grain). Returns (name_a, name_b, sim).

    Blocks larger than ``max_block_names`` distinct names are dropped
    before pairing — the hard cost bound documented in the module
    docstring."""
    names = (
        df.select(F.col(name_col).alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
        .withColumn("blk", block_fn(F.col("name")))
    )
    names = (
        names.withColumn(
            "_bn", F.count(F.lit(1)).over(Window.partitionBy("blk"))
        )
        .filter(F.col("_bn") <= F.lit(int(max_block_names)))
        .drop("_bn")
    )
    a = names.select(F.col("name").alias("name_a"), "blk")
    b = names.select(F.col("name").alias("name_b"), "blk")
    sim = F.lit(1.0) - F.levenshtein("name_a", "name_b") / F.greatest(
        F.length("name_a"), F.length("name_b")
    ).cast("double")
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(sim >= F.lit(float(threshold)))
        .select("name_a", "name_b", F.round(sim, 6).alias("sim"))
    )


def incremental_fuzzy_pairs(
    old_df: DataFrame,
    new_df: DataFrame,
    name_col: str,
    block_fn: Callable[[Column], Column],
    threshold: float = 0.75,
    max_block_names: int = 5000,
) -> DataFrame:
    """Incremental record linkage: match pairs INVOLVING the new batch —
    new×old and new×new, never old×old. The nightly-ingest entity-
    resolution shape: with O old names and N genuinely new ones (N << O),
    the blocked join probes only the blocks the new batch touches, so
    pairing work scales with the new names' block collisions instead of
    re-linking the whole dimension.

    "New" means a distinct name value NOT present in ``old_df`` — a name
    seen before is already linked and re-pairing it would duplicate the
    standing edge set. Exactly equal to :func:`blocked_fuzzy_pairs` over
    the union, restricted to pairs with at least one new name (the
    ``max_block_names`` cap counts DISTINCT names over the union,
    matching the full run bit-for-bit — pinned in tests). Returns
    (name_a, name_b, sim) with name_a < name_b.

    Scale shape: two distinct-aggregates and an anti-join at name grain,
    then the blocked join probes from the new side only; old names never
    pair with each other, and nothing ever touches row grain."""
    old_names = (
        old_df.select(F.col(name_col).alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
    )
    new_names = (
        new_df.select(F.col(name_col).alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
        .join(old_names, on="name", how="left_anti")
    )
    names = (
        old_names.withColumn("_is_new", F.lit(False))
        .unionByName(new_names.withColumn("_is_new", F.lit(True)))
        .withColumn("blk", block_fn(F.col("name")))
    )
    names = (
        names.withColumn(
            "_bn", F.count(F.lit(1)).over(Window.partitionBy("blk"))
        )
        .filter(F.col("_bn") <= F.lit(int(max_block_names)))
        .drop("_bn")
    )
    probe = names.filter("_is_new").select(
        F.col("name").alias("name_p"), "blk"
    )
    other = names.select(F.col("name").alias("name_o"), "blk")
    cand = (
        probe.join(other, "blk")
        .filter(F.col("name_p") != F.col("name_o"))
        .select(
            F.least("name_p", "name_o").alias("name_a"),
            F.greatest("name_p", "name_o").alias("name_b"),
        )
        .dropDuplicates(["name_a", "name_b"])
    )
    sim = F.lit(1.0) - F.levenshtein("name_a", "name_b") / F.greatest(
        F.length("name_a"), F.length("name_b")
    ).cast("double")
    return cand.filter(sim >= F.lit(float(threshold))).select(
        "name_a", "name_b", F.round(sim, 6).alias("sim")
    )


def fuzzy_name_clusters(
    df: DataFrame,
    name_col: str,
    block_fn: Callable[[Column], Column],
    threshold: float = 0.75,
    max_block_names: int = 5000,
) -> DataFrame:
    """Entity-resolution clusters: match pairs → transitive closure →
    canonical name per cluster (the min name reachable; unmatched names
    canonicalize to themselves). One row per distinct name:
    (name, canonical, n_records, cluster_records) where ``n_records``
    counts the rows carrying that exact name and ``cluster_records`` the
    rows across the whole cluster — the number an exact groupBy would
    have split.

    CC runs on the match edges only (pairs-sized); record counts join
    back to the name dimension by equality, and the cluster rollup is a
    window over the name-cardinality frame — nothing quadratic ever sees
    row grain."""
    from ningaloo_turtle_etl_spark.operators.graph import (
        connected_components,
    )

    pairs = blocked_fuzzy_pairs(
        df, name_col, block_fn, threshold, max_block_names
    )
    comp = connected_components(pairs, "name_a", "name_b")
    counts = (
        df.where(F.col(name_col).isNotNull())
        .groupBy(F.col(name_col).alias("name"))
        .agg(F.count(F.lit(1)).alias("n_records"))
    )
    labeled = (
        counts.join(comp, counts.name == comp.id, "left")
        .select(
            "name",
            F.coalesce("component", "name").alias("canonical"),
            "n_records",
        )
    )
    return labeled.withColumn(
        "cluster_records",
        F.sum("n_records").over(Window.partitionBy("canonical")),
    )


def symspell_del1_pairs(
    df: DataFrame,
    name_col: str,
    max_bucket_names: int | None = None,
) -> DataFrame:
    """SymSpell delete-neighborhood blocking (Garbe's symmetric-delete
    algorithm): every edit-distance-1 pair of DISTINCT names, found by
    equi-joins on delete-1 keys instead of scanning candidates — the
    precomputed-index alternative to Ed-Join's prefix filter
    (blocked_fuzzy_pairs).

    The keys are POSITION-AUGMENTED, which makes the join
    verification-free and the candidate set exactly the answer:

    * substitution: a ≠ b of equal length are ed-1 iff deleting the SAME
      position i from both yields the same string — a self-join on
      (i, delete_i(name)) emits exactly the substitution pairs, nothing
      else (a plain delete-key join would also meet cross-position
      deletes, i.e. ed-2 pairs: measured 10.2M candidates for 2.25M true
      pairs at 100k account names, a 4.5× verify bill).
    * insert/delete: a is ed-1 from a shorter b iff some delete_i(a)
      equals b itself — a join of a's delete variants against the
      original names, one-directional by length.

    Both joins hit only true pairs, so no levenshtein verify runs at
    all (the DuckDB oracle for this operator intentionally keeps the
    naive single-key + verify formulation as an independent algorithm).
    Returns (name_a, name_b, dist) over a < b distinct pairs, dist = 1.

    Scale shape: keys explode map-side from the DISTINCT-name dimension
    (never the fact table), ≤ len+1 keys per name; the joins shuffle
    (key, name) tuples only and their outputs ARE the result — no
    post-join dedup shuffle. Substitution pairs are unique by the single
    differing position (delete_i(a)=delete_i(b) at two positions forces
    a=b). Insert/delete pairs join on the BARE key, so that side is
    deduped to distinct (name, k) first — repeated-character runs make
    several delete positions collapse to the same string ('w0011' del
    pos 3 and 4 both give 'w011'), and (pos,k) struct distinctness
    alone would emit the pair once per position. The two branches are
    disjoint by length. Bucket skew is
    bounded by construction (a key is shared only by strings within one
    edit of it); ``max_bucket_names`` offers the minhash-style cap
    (oversized key buckets DROPPED — a documented completeness trade for
    adversarial name sets; default None keeps the exact contract)."""
    name = F.col("name")
    # length guard: F.sequence(1, 0) would generate a DESCENDING [1, 0]
    # for the empty string rather than no keys
    names = (
        df.select(F.col(name_col).alias("name"))
        .where(name.isNotNull() & (F.length(name) > 0))
        .distinct()
    )
    # (position, delete_i(name)) keys; position 0 is the original string
    del_keys = F.array_distinct(
        F.concat(
            F.transform(
                F.sequence(F.lit(1), F.length(name)),
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    F.concat(
                        name.substr(F.lit(1), i - 1),
                        name.substr(i + 1, F.length(name)),
                    ).alias("k"),
                ),
            ),
            F.array(
                F.struct(
                    F.lit(0).cast("int").alias("pos"), name.alias("k")
                )
            ),
        )
    )
    keys = names.select(
        "name", F.explode(del_keys).alias("pk")
    ).select("name", F.col("pk.pos").alias("pos"), F.col("pk.k").alias("k"))

    def _cap(kdf: DataFrame, cols: list[str]) -> DataFrame:
        if max_bucket_names is None:
            return kdf
        return (
            kdf.withColumn(
                "_bn", F.count(F.lit(1)).over(Window.partitionBy(*cols))
            )
            .filter(F.col("_bn") <= F.lit(int(max_bucket_names)))
            .drop("_bn")
        )

    dels = _cap(keys.filter(F.col("pos") > 0), ["pos", "k"])
    origs = _cap(keys.filter(F.col("pos") == 0), ["k"])
    # hint("merge"): the delete-key frames are len(name)x the name
    # dimension, but their lineage (often spark.range / generators)
    # carries tiny size ESTIMATES — Catalyst happily broadcast a 20M-row
    # exploded side at the 1M-name probe and OOM'd the driver. The
    # operator's scale contract is a shuffled key join; pin it.
    subs = (
        dels.alias("a")
        .join(
            dels.alias("b").hint("merge"),
            on=[F.col("a.pos") == F.col("b.pos"), F.col("a.k") == F.col("b.k")],
        )
        .filter(F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
    )
    # insert/delete: a's delete variant IS b; one-directional by length.
    # This join matches on the bare key, so drop pos and dedupe
    # (name, k) — otherwise repeated-character runs (several delete
    # positions → same string) emit the same pair once per position.
    insdel_dels = _cap(
        keys.filter(F.col("pos") > 0).select("name", "k").distinct(),
        ["k"],
    )
    insdel = (
        insdel_dels.alias("a")
        .join(origs.alias("b").hint("merge"), on=F.col("a.k") == F.col("b.k"))
        .filter(F.col("a.name") != F.col("b.name"))
        .select(
            F.least("a.name", "b.name").alias("name_a"),
            F.greatest("a.name", "b.name").alias("name_b"),
        )
    )
    return subs.union(insdel).select(
        "name_a", "name_b", F.lit(1).cast("long").alias("dist")
    )


def fellegi_sunter_em(
    pairs: DataFrame,
    gamma_cols: Sequence[str],
    iterations: int = 3,
    p0: float = 0.125,
    m0: float = 0.75,
    u0: float = 0.25,
) -> DataFrame:
    """Fellegi–Sunter record-linkage parameter estimation by EM (Winkler
    1988): given candidate pairs with BINARY field-agreement indicators
    γ_j, learn the match proportion p and the per-field conditional
    agreement rates m_j = P(γ_j|match), u_j = P(γ_j|non-match) — the
    probabilistic foundation under the deterministic blockers
    (blocked_fuzzy_pairs, symspell_del1_pairs): the learned
    log2(m/u) agreement weights ARE the classic linkage scores.

        E: w = p·Π f(m_j,γ_j) / (p·Π f(m_j,γ_j) + (1−p)·Π f(u_j,γ_j)),
           f(q,γ) = q if γ else 1−q
        M: p = Σw/n,  m_j = Σ_{γ_j=1} w / Σw,
           u_j = Σ_{γ_j=1} (1−w) / (n − Σw)

    Scale shape: the pairs frame (already blocked — candidate grain, not
    record²) persists once; each EM round is ONE map-side-combined
    aggregate with the parameters embedded as literals; driver state is
    2k+1 floats. Determinism: w quantizes to integer nanos once per
    pair (so 1−w is exactly 1e9−w_n and all six sums are exact
    integers); init p=1/8, m=3/4, u=1/4 binary-exact; M-step division
    order mirrored by the unrolled DuckDB oracle.

    Returns one row per field: (field, m, u, weight_agree = log2(m/u),
    weight_disagree = log2((1−m)/(1−u))) with the shared (p_match,
    n_pairs) on every row; 6dp."""
    fields = list(gamma_cols)
    if not fields:
        raise ValueError("gamma_cols must be non-empty")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    import math

    from pyspark import StorageLevel

    base = pairs.select(
        *[F.col(c).cast("int").alias(c) for c in fields]
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = base.count()
        if n == 0:
            raise ValueError("fellegi_sunter_em: empty candidate set")
        p, m, u = float(p0), [float(m0)] * len(fields), [float(u0)] * len(
            fields
        )
        for _ in range(int(iterations)):
            num = F.lit(p)
            den = F.lit(1.0 - p)
            for j, c in enumerate(fields):
                g = F.col(c)
                num = num * F.when(g == 1, F.lit(m[j])).otherwise(
                    F.lit(1.0 - m[j])
                )
                den = den * F.when(g == 1, F.lit(u[j])).otherwise(
                    F.lit(1.0 - u[j])
                )
            wn = F.round(num / (num + den) * F.lit(1e9), 0).cast("long")
            aggs = [F.sum(wn).alias("sw")] + [
                F.sum(F.col(c) * wn).alias(f"swg{j}")
                for j, c in enumerate(fields)
            ] + [
                F.sum(
                    F.col(c) * (F.lit(1_000_000_000).cast("long") - wn)
                ).alias(f"scg{j}")
                for j, c in enumerate(fields)
            ]
            s = base.agg(*aggs).collect()[0]
            sw = int(s["sw"]) / 1e9
            p = sw / n
            m = [
                (int(s[f"swg{j}"]) / 1e9) / sw for j in range(len(fields))
            ]
            u = [
                (int(s[f"scg{j}"]) / 1e9) / (n - sw)
                for j in range(len(fields))
            ]
        rows = [
            (
                fields[j],
                m[j],
                u[j],
                math.log2(m[j] / u[j]) if u[j] > 0 and m[j] > 0 else None,
                math.log2((1.0 - m[j]) / (1.0 - u[j]))
                if m[j] < 1 and u[j] < 1
                else None,
                p,
                n,
            )
            for j in range(len(fields))
        ]
    finally:
        base.unpersist()
    return (
        pairs.sparkSession.createDataFrame(
            rows,
            "field string, m double, u double, weight_agree double, "
            "weight_disagree double, p_match double, n_pairs long",
        )
        .select(
            "field",
            F.round("m", 6).alias("m"),
            F.round("u", 6).alias("u"),
            F.round("weight_agree", 6).alias("weight_agree"),
            F.round("weight_disagree", 6).alias("weight_disagree"),
            F.round("p_match", 6).alias("p_match"),
            "n_pairs",
        )
        .orderBy("field")
    )
