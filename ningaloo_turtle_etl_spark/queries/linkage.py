"""Fuzzy record-linkage queries (operators/linkage.py): blocked
edit-distance match pairs and transitive entity-resolution clusters over
the part-name dimension. Both carry full DuckDB value-hash oracles —
levenshtein is a builtin on both engines, and the transitive closure
replays as a recursive CTE."""

from __future__ import annotations

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.operators.linkage import (
    blocked_fuzzy_pairs,
    fuzzy_name_clusters,
)
from ningaloo_turtle_etl_spark.registry import register
from ningaloo_turtle_etl_spark.sources.tables import load_table

# Blocking key: the noun token of "adjective noun" part names — the
# phonetic-code / last-token blocking slot of a linkage pipeline.
# NULLIF mirrors Spark's F.split(...).getItem(1), which yields NULL (not
# '') for one-token names — a NULL block never equi-joins, while DuckDB's
# bare split_part('x',' ',2)='' would silently pair all such names.
_BLK_SQL = "NULLIF(split_part(p_name, ' ', 2), '')"

_PAIRS_SQL = f"""
    WITH n0 AS (
        SELECT DISTINCT p_name AS name, {_BLK_SQL} AS blk
        FROM part WHERE p_name IS NOT NULL
    ),
    -- mirror the operator's max_block_names=5000 hard cost cap: oversized
    -- blocks are EXCLUDED from pairing on both engines
    n AS (
        SELECT name, blk FROM (
            SELECT name, blk, COUNT(*) OVER (PARTITION BY blk) AS bn
            FROM n0
        ) WHERE bn <= 5000
    ),
    pairs AS (
        SELECT a.name AS name_a, b.name AS name_b,
               1.0 - levenshtein(a.name, b.name) * 1.0
                     / greatest(length(a.name), length(b.name)) AS sim_raw
        FROM n a JOIN n b ON a.blk = b.blk AND a.name < b.name
    )
    SELECT name_a, name_b, ROUND(sim_raw, 6) AS sim
    FROM pairs WHERE sim_raw >= 0.75
"""


@register(
    "fuzzy_part_pairs",
    _PAIRS_SQL + "\n    ORDER BY name_a, name_b",
)
def q_fuzzy_part_pairs(spark, sf_dir):
    """Blocked fuzzy match pairs over the distinct part-name dimension
    (`operators/linkage.py blocked_fuzzy_pairs`): within each noun block,
    a<b pairs with normalized Levenshtein similarity >= 0.75 — the
    candidate-generation stage of record linkage. The quadratic stage runs
    on 64 distinct names, never the 2000-row part table; the threshold
    gates the unrounded similarity and the output rounds to 6dp."""
    part = load_table(spark, "part", sf_dir)
    return blocked_fuzzy_pairs(
        part,
        "p_name",
        lambda name: F.split(name, " ").getItem(1),
        threshold=0.75,
    ).orderBy("name_a", "name_b")


@register(
    "fuzzy_part_clusters",
    f"""
    WITH RECURSIVE matched AS (
        {_PAIRS_SQL}
    ),
    edges AS (
        SELECT name_a AS src, name_b AS dst FROM matched
        UNION
        SELECT name_b, name_a FROM matched
    ),
    reach(id, anc) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.anc FROM edges e JOIN reach r ON e.dst = r.id
    ),
    comp AS (
        SELECT id, MIN(anc) AS component FROM reach GROUP BY id
    ),
    counts AS (
        SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_records
        FROM part WHERE p_name IS NOT NULL GROUP BY 1
    ),
    labeled AS (
        SELECT counts.name,
               COALESCE(comp.component, counts.name) AS canonical,
               n_records
        FROM counts LEFT JOIN comp ON counts.name = comp.id
    )
    SELECT name, canonical, n_records,
           CAST(SUM(n_records) OVER (PARTITION BY canonical) AS BIGINT)
               AS cluster_records
    FROM labeled
    ORDER BY canonical, name
    """,
)
def q_fuzzy_part_clusters(spark, sf_dir):
    """Entity-resolution clusters over part names
    (`operators/linkage.py fuzzy_name_clusters`): the match pairs fed
    through distributed min-label connected components, canonicalized to
    the smallest reachable name, with per-name and per-cluster record
    counts — the rollup an exact groupBy would have split across spelling
    variants. The DuckDB oracle replays the closure as a recursive CTE."""
    part = load_table(spark, "part", sf_dir)
    return fuzzy_name_clusters(
        part,
        "p_name",
        lambda name: F.split(name, " ").getItem(1),
        threshold=0.75,
    ).orderBy("canonical", "name")


def _soundex_pairs_sql() -> str:
    from ningaloo_turtle_etl_spark.operators.linkage import phonetic_code_sql

    blk = phonetic_code_sql("regexp_extract(p_name, '([a-z]+)$', 1)")
    return f"""
    WITH n0 AS (
        SELECT DISTINCT p_name AS name,
               {blk} AS blk
        FROM part WHERE p_name IS NOT NULL
    ),
    n AS (
        SELECT name, blk FROM (
            SELECT name, blk, COUNT(*) OVER (PARTITION BY blk) AS bn
            FROM n0
        ) WHERE bn <= 5000
    ),
    pairs AS (
        SELECT a.name AS name_a, b.name AS name_b,
               1.0 - levenshtein(a.name, b.name) * 1.0
                     / greatest(length(a.name), length(b.name)) AS sim_raw
        FROM n a JOIN n b ON a.blk = b.blk AND a.name < b.name
    )
    SELECT name_a, name_b, ROUND(sim_raw, 6) AS sim
    FROM pairs WHERE sim_raw >= 0.75
    ORDER BY name_a, name_b
    """


@register("fuzzy_part_soundex_pairs", _soundex_pairs_sql())
def q_fuzzy_part_soundex_pairs(spark, sf_dir):
    """Fuzzy match pairs blocked by the built-in PHONETIC key
    (`operators/linkage.py phonetic_code` over the final name token) —
    the out-of-the-box blocking choice when no domain key exists:
    sound-alike spelling variants land in one block even when no token
    matches exactly, the classic recall win of Soundex blocking over
    token equality. The portable Soundex-style chain (translate +
    nested-replace collapse) computes IDENTICALLY in Catalyst and the
    DuckDB oracle, so this row is value-hash checked — the engine
    builtin F.soundex could not be."""
    from ningaloo_turtle_etl_spark.operators.linkage import phonetic_code

    part = load_table(spark, "part", sf_dir)
    return blocked_fuzzy_pairs(
        part,
        "p_name",
        lambda name: phonetic_code(
            F.regexp_extract(name, "([a-z]+)$", 1)
        ),
        threshold=0.75,
    ).orderBy("name_a", "name_b")


@register(
    "fuzzy_part_incremental_pairs",
    f"""
    WITH oldn AS (
        SELECT DISTINCT p_name AS name FROM part
        WHERE p_partkey % 7 <> 0 AND p_name IS NOT NULL
    ),
    newn AS (
        SELECT DISTINCT p_name AS name FROM part
        WHERE p_partkey % 7 = 0 AND p_name IS NOT NULL
          AND p_name NOT IN (SELECT name FROM oldn)
    ),
    u AS (
        SELECT name, FALSE AS is_new FROM oldn
        UNION ALL
        SELECT name, TRUE FROM newn
    ),
    n0 AS (
        SELECT name, is_new,
               NULLIF(split_part(name, ' ', 2), '') AS blk
        FROM u
    ),
    n AS (
        SELECT name, is_new, blk FROM (
            SELECT name, is_new, blk,
                   COUNT(*) OVER (PARTITION BY blk) AS bn
            FROM n0
        ) WHERE bn <= 5000
    ),
    cand AS (
        SELECT DISTINCT least(a.name, b.name) AS name_a,
                        greatest(a.name, b.name) AS name_b
        FROM n a JOIN n b ON a.blk = b.blk AND a.name <> b.name
        WHERE a.is_new
    )
    SELECT name_a, name_b,
           ROUND(1.0 - levenshtein(name_a, name_b) * 1.0
                 / greatest(length(name_a), length(name_b)), 6) AS sim
    FROM cand
    WHERE 1.0 - levenshtein(name_a, name_b) * 1.0
          / greatest(length(name_a), length(name_b)) >= 0.75
    ORDER BY name_a, name_b
    """,
)
def q_fuzzy_part_incremental_pairs(spark, sf_dir):
    """Incremental linkage over a simulated nightly part-ingest
    (`operators/linkage.py incremental_fuzzy_pairs`): parts with
    p_partkey % 7 == 0 arrive as the new batch, everything else is the
    standing dimension; only pairs involving a genuinely NEW name (never
    seen in the old batch) are emitted — new x old and new x new, never
    old x old. Bit-equal to the full blocked run restricted to new-name
    pairs (pinned in tests/test_linkage.py)."""
    from ningaloo_turtle_etl_spark.operators.linkage import (
        incremental_fuzzy_pairs,
    )

    part = load_table(spark, "part", sf_dir)
    old = part.filter(F.col("p_partkey") % 7 != 0)
    new = part.filter(F.col("p_partkey") % 7 == 0)
    return incremental_fuzzy_pairs(
        old,
        new,
        "p_name",
        lambda name: F.split(name, " ").getItem(1),
        threshold=0.75,
    ).orderBy("name_a", "name_b")


@register(
    "symspell_customer_pairs",
    """
    WITH n AS (
        SELECT DISTINCT c_name AS name FROM customer
        WHERE c_name IS NOT NULL
    ),
    keys AS (
        SELECT name, unnest(list_distinct(list_append(
            list_transform(generate_series(1, length(name)),
                i -> substr(name, 1, i - 1) || substr(name, i + 1)),
            name))) AS k
        FROM n
    ),
    cand AS (
        SELECT DISTINCT a.name AS name_a, b.name AS name_b
        FROM keys a JOIN keys b ON a.k = b.k AND a.name < b.name
    )
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
    FROM cand WHERE levenshtein(name_a, name_b) <= 1
    ORDER BY name_a, name_b
    """,
)
def q_symspell_customer_pairs(spark, sf_dir):
    """Every edit-distance-1 customer-name pair via SymSpell
    delete-neighborhood blocking (`operators/linkage.py
    symspell_del1_pairs`): the precomputed-index alternative to
    Ed-Join's prefix filter on the same linkage surface — exactly
    complete for ed ≤ 1 by the symmetric-delete meeting argument, with
    candidate generation as a pure equi-join on delete keys."""
    from ningaloo_turtle_etl_spark.operators.linkage import (
        symspell_del1_pairs,
    )

    cust = load_table(spark, "customer", sf_dir)
    return symspell_del1_pairs(cust, "c_name").orderBy("name_a", "name_b")


def _fellegi_sunter_oracle_sql(iterations: int = 3) -> str:
    """Unrolled Fellegi–Sunter EM oracle: a shared blocked candidate-
    pair CTE with three binary agreement indicators, then per round one
    nano-quantized weighted aggregate + one parameter CTE — operation
    order mirroring `operators/linkage.py fellegi_sunter_em`
    token-for-token (w quantized ONCE per pair; 1−w = 1e9−w_n exactly).
    Init p=1/8, m=3/4, u=1/4 (binary-exact). All CTEs MATERIALIZED."""
    parts = [
        """
    pr AS MATERIALIZED (
        SELECT p_partkey AS id, p_brand,
               string_split(p_type, ' ')[1] AS t1,
               CAST(floor(p_retailprice / 10) AS BIGINT) AS pb,
               p_size, p_partkey % 8 AS sub
        FROM part
    ),
    cand AS MATERIALIZED (
        SELECT CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END AS g0,
               CASE WHEN a.t1 = b.t1 THEN 1 ELSE 0 END AS g1,
               CASE WHEN a.pb = b.pb THEN 1 ELSE 0 END AS g2
        FROM pr a JOIN pr b
          ON a.p_size = b.p_size AND a.sub = b.sub AND a.id < b.id
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cand),
    th0 AS (SELECT 0.125 AS p, 0.75 AS m0, 0.75 AS m1, 0.75 AS m2,
                   0.25 AS u0, 0.25 AS u1, 0.25 AS u2)"""
    ]
    num = (
        "p * (CASE WHEN g0 = 1 THEN m0 ELSE 1.0 - m0 END)"
        " * (CASE WHEN g1 = 1 THEN m1 ELSE 1.0 - m1 END)"
        " * (CASE WHEN g2 = 1 THEN m2 ELSE 1.0 - m2 END)"
    )
    den = (
        "(1.0 - p) * (CASE WHEN g0 = 1 THEN u0 ELSE 1.0 - u0 END)"
        " * (CASE WHEN g1 = 1 THEN u1 ELSE 1.0 - u1 END)"
        " * (CASE WHEN g2 = 1 THEN u2 ELSE 1.0 - u2 END)"
    )
    for t in range(1, iterations + 1):
        parts.append(
            f""",
    e{t} AS MATERIALIZED (
        SELECT CAST(SUM(wn) AS BIGINT) AS sw,
               CAST(SUM(g0 * wn) AS BIGINT) AS swg0,
               CAST(SUM(g1 * wn) AS BIGINT) AS swg1,
               CAST(SUM(g2 * wn) AS BIGINT) AS swg2,
               CAST(SUM(g0 * (1000000000 - wn)) AS BIGINT) AS scg0,
               CAST(SUM(g1 * (1000000000 - wn)) AS BIGINT) AS scg1,
               CAST(SUM(g2 * (1000000000 - wn)) AS BIGINT) AS scg2
        FROM (SELECT g0, g1, g2,
                     CAST(round({num} / ({num} + {den}) * 1e9) AS BIGINT)
                         AS wn
              FROM cand CROSS JOIN th{t - 1})
    ),
    th{t} AS MATERIALIZED (
        SELECT (sw / 1e9) / n AS p,
               (swg0 / 1e9) / (sw / 1e9) AS m0,
               (swg1 / 1e9) / (sw / 1e9) AS m1,
               (swg2 / 1e9) / (sw / 1e9) AS m2,
               (scg0 / 1e9) / (n - sw / 1e9) AS u0,
               (scg1 / 1e9) / (n - sw / 1e9) AS u1,
               (scg2 / 1e9) / (n - sw / 1e9) AS u2
        FROM e{t} CROSS JOIN nn
    )"""
        )
    T = iterations
    fields = [
        ("brand_eq", "m0", "u0"),
        ("type_word_eq", "m1", "u1"),
        ("price_bucket_eq", "m2", "u2"),
    ]
    finals = "\n    UNION ALL ".join(
        f"SELECT '{name}' AS field, ROUND({m}, 6) AS m,"
        f" ROUND({u}, 6) AS u,"
        f" ROUND(log2({m} / {u}), 6) AS weight_agree,"
        f" ROUND(log2((1.0 - {m}) / (1.0 - {u})), 6) AS weight_disagree,"
        f" ROUND(p, 6) AS p_match, n AS n_pairs"
        f" FROM th{T} CROSS JOIN nn"
        for name, m, u in fields
    )
    return (
        "WITH " + "".join(parts) + "\n    " + finals + "\n    ORDER BY field"
    )


@register("fellegi_sunter_part_weights", _fellegi_sunter_oracle_sql(3))
def fellegi_sunter_part_weights(spark, sf_dir):
    """Fellegi–Sunter match-weight estimation over blocked part pairs
    (`operators/linkage.py fellegi_sunter_em`, 3 EM rounds): candidate
    pairs share (p_size, partkey%8) — a deterministic candidate sample,
    the grain EM needs, never record² — with binary agreement on brand,
    type head-word, and retail-price decile bucket. Learns P(agree|match) m,
    P(agree|non-match) u, and the classic log2(m/u) linkage weights the
    deterministic blockers (fuzzy_part_pairs, symspell) threshold on;
    the whole parameter trajectory replays in the unrolled oracle."""
    from ningaloo_turtle_etl_spark.operators.linkage import (
        fellegi_sunter_em,
    )

    pt = load_table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("id"),
        "p_brand",
        F.split(F.col("p_type"), " ").getItem(0).alias("t1"),
        F.floor(F.col("p_retailprice") / 10).cast("long").alias("pb"),
        "p_size",
        (F.col("p_partkey") % 8).alias("sub"),
    )
    a = pt.alias("a")
    b = pt.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.p_size") == F.col("b.p_size"),
                F.col("a.sub") == F.col("b.sub"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(
            (F.col("a.p_brand") == F.col("b.p_brand"))
            .cast("int")
            .alias("g0"),
            (F.col("a.t1") == F.col("b.t1")).cast("int").alias("g1"),
            (F.col("a.pb") == F.col("b.pb")).cast("int").alias("g2"),
        )
    )
    out = fellegi_sunter_em(cand, ["g0", "g1", "g2"], iterations=3)
    return out.select(
        F.when(F.col("field") == "g0", F.lit("brand_eq"))
        .when(F.col("field") == "g1", F.lit("type_word_eq"))
        .otherwise(F.lit("price_bucket_eq"))
        .alias("field"),
        "m",
        "u",
        "weight_agree",
        "weight_disagree",
        "p_match",
        "n_pairs",
    ).orderBy("field")
