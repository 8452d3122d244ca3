"""Fuzzy record linkage: blocked edit-distance pairs and transitive
entity-resolution clusters (operators/linkage.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ningaloo_turtle_etl_spark.operators.linkage import (
    blocked_fuzzy_pairs,
    fuzzy_name_clusters,
)
from ningaloo_turtle_etl_spark.registry import oracle_sql, queries
from tests.conftest import SF_DIR, assert_df_matches_oracle


@pytest.fixture(scope="module")
def records(spark):
    # 'smith'/'smyth' match (sim 0.8); 'smith'/'stone' don't (lev 4);
    # 'jones' is in another block entirely; NULL names are excluded.
    rows = (
        [("smith",)] * 3
        + [("smyth",)] * 2
        + [("stone",)]
        + [("jones",)] * 4
        + [(None,)]
    )
    return spark.createDataFrame(rows, "name string")


def test_blocked_fuzzy_pairs_threshold_and_blocking(spark, records):
    pairs = blocked_fuzzy_pairs(
        records, "name", lambda n: F.substring(n, 1, 1), threshold=0.75
    ).collect()
    assert [(r["name_a"], r["name_b"], r["sim"]) for r in pairs] == [
        ("smith", "smyth", 0.8)
    ]
    # dropping the threshold admits the weaker in-block pair but never a
    # cross-block one ('jones' starts with j)
    loose = {
        (r["name_a"], r["name_b"])
        for r in blocked_fuzzy_pairs(
            records, "name", lambda n: F.substring(n, 1, 1), threshold=0.1
        ).collect()
    }
    assert ("smith", "smyth") in loose and ("smyth", "stone") in loose
    assert not any("jones" in p for pair in loose for p in pair)


def test_blocked_fuzzy_pairs_block_cap(spark, records):
    # the s-block has 3 distinct names; a cap of 2 drops the whole block
    capped = blocked_fuzzy_pairs(
        records,
        "name",
        lambda n: F.substring(n, 1, 1),
        threshold=0.1,
        max_block_names=2,
    ).collect()
    assert capped == []


def test_fuzzy_name_clusters_canonical_and_counts(spark, records):
    out = {
        r["name"]: r
        for r in fuzzy_name_clusters(
            records, "name", lambda n: F.substring(n, 1, 1), threshold=0.75
        ).collect()
    }
    # 4 distinct non-null names, each exactly one output row
    assert set(out) == {"smith", "smyth", "stone", "jones"}
    # matched pair canonicalizes to the min name; record counts roll up
    assert out["smith"]["canonical"] == "smith"
    assert out["smyth"]["canonical"] == "smith"
    assert out["smith"]["n_records"] == 3 and out["smyth"]["n_records"] == 2
    assert out["smith"]["cluster_records"] == 5
    assert out["smyth"]["cluster_records"] == 5
    # unmatched names are their own singleton clusters
    assert out["stone"]["canonical"] == "stone"
    assert out["stone"]["cluster_records"] == 1
    assert out["jones"]["canonical"] == "jones"
    assert out["jones"]["cluster_records"] == 4


def test_linkage_queries_match_oracle(spark, duck):
    qs, os_ = queries(), oracle_sql()
    for name in ("fuzzy_part_pairs", "fuzzy_part_clusters"):
        assert_df_matches_oracle(qs[name](spark, SF_DIR), duck, os_[name])


def test_phonetic_code_matches_sql_twin_and_classic_examples(spark, duck):
    from ningaloo_turtle_etl_spark.operators.linkage import (
        phonetic_code,
        phonetic_code_sql,
    )

    names = [
        "robert", "rupert", "smith", "smyth", "peru", "perou",
        "pfister", "tymczak", "jones", "lavender", "", "a",
    ]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        r["name"]: r["code"]
        for r in df.select("name", phonetic_code(F.col("name")).alias("code")).collect()
    }
    # classic Soundex anchors (the H/W-separator simplification does not
    # affect any of these)
    assert got["robert"] == "R163" and got["rupert"] == "R163"
    assert got["smith"] == "S530" and got["smyth"] == "S530"
    assert got["peru"] == got["perou"] == "P600"
    assert got["pfister"] == "P236"  # adjacent same-code letters collapse
    assert got[""] == "000" and got["a"] == "A000"
    # the DuckDB twin replays the chain byte-for-byte
    sql = phonetic_code_sql("name")
    rows = duck.execute(
        f"SELECT name, {sql} AS code FROM (SELECT unnest(?) AS name)",
        [names],
    ).fetchall()
    assert {n: c for n, c in rows} == got


def test_incremental_fuzzy_pairs_equals_full_restricted(spark):
    """Incremental linkage must be bit-equal to the full blocked run over
    the union, restricted to pairs involving a genuinely new name."""
    from ningaloo_turtle_etl_spark.operators.linkage import (
        blocked_fuzzy_pairs,
        incremental_fuzzy_pairs,
    )

    blk = lambda n: F.substring(n, 1, 1)  # noqa: E731
    old = spark.createDataFrame(
        [("smith",)] * 2 + [("smyth",)] + [("stone",)] + [("jones",)],
        "name string",
    )
    # 'smithe' is new; 'smith' repeats (already linked -> NOT new);
    # 'jonas' is new in the j block
    new = spark.createDataFrame(
        [("smithe",), ("smith",), ("jonas",)], "name string"
    )
    inc = {
        (r["name_a"], r["name_b"], r["sim"])
        for r in incremental_fuzzy_pairs(
            old, new, "name", blk, threshold=0.7
        ).collect()
    }
    union = old.unionByName(new)
    new_only = {"smithe", "jonas"}
    full = {
        (r["name_a"], r["name_b"], r["sim"])
        for r in blocked_fuzzy_pairs(
            union, "name", blk, threshold=0.7
        ).collect()
        if r["name_a"] in new_only or r["name_b"] in new_only
    }
    assert inc == full and inc  # equal AND non-trivial
    # never an old x old pair
    assert not any(
        a not in new_only and b not in new_only for a, b, _ in inc
    )
    # the repeated name never re-pairs: smith x smyth is an OLD edge
    assert not any({a, b} == {"smith", "smyth"} for a, b, _ in inc)


def test_symspell_del1_pairs_exact_completeness(spark):
    """Delete-neighborhood blocking finds every ed<=1 pair — one case
    per edit kind (substitution, insertion, deletion), plus an ed=2
    pair it must NOT emit, duplicates collapsing to the distinct-name
    grain, and the documented bucket-cap completeness trade."""
    from ningaloo_turtle_etl_spark.operators.linkage import (
        symspell_del1_pairs,
    )

    names = [
        "carla", "carli",      # substitution at the tail
        "brook", "brooke",     # insertion
        "dan",                 # deletion vs "dana"? none — pairs w/ "dana"
        "dana",
        "zzz",                 # isolated
        "mike", "mage",        # ed 2 — must not pair
    ]
    df = spark.createDataFrame(
        [(n,) for n in names + ["carla", "dan"]], "name string"
    )
    out = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in symspell_del1_pairs(df, "name").collect()
    }
    assert out == {
        ("carla", "carli"): 1,
        ("brook", "brooke"): 1,
        ("dan", "dana"): 1,
    }

    # brute-force agreement on a denser set: every ed<=1 pair, no extras
    import itertools

    def ed(a, b):
        m = {(0, j): j for j in range(len(b) + 1)}
        for i in range(1, len(a) + 1):
            m[(i, 0)] = i
            for j in range(1, len(b) + 1):
                m[(i, j)] = min(
                    m[(i - 1, j)] + 1,
                    m[(i, j - 1)] + 1,
                    m[(i - 1, j - 1)] + (a[i - 1] != b[j - 1]),
                )
        return m[(len(a), len(b))]

    dense = [f"w{i:03d}" for i in range(40)] + ["w0x1", "w01", "w0011"]
    ddf = spark.createDataFrame([(n,) for n in dense], "name string")
    got_rows = sorted(
        (r["name_a"], r["name_b"])
        for r in symspell_del1_pairs(ddf, "name").collect()
    )
    want = sorted(
        (a, b)
        for a, b in itertools.combinations(sorted(set(dense)), 2)
        if ed(a, b) <= 1
    )
    # row-LIST compare: 'w0011' deletes positions 4 and 5 both to
    # 'w001', so a (pos,k)-grain insdel side would emit that pair
    # twice — a set compare masked exactly that duplication
    assert got_rows == want
    assert ("w001", "w0011") in want

    # cap: an oversized (pos, key) bucket is dropped — the three-way
    # substitution group at (5, "carl") exceeds cap 2, so its pairs
    # vanish, while the untouched insert pair survives
    trio = spark.createDataFrame(
        [(n,) for n in ["carla", "carli", "carlo", "brook", "brooke"]],
        "name string",
    )
    capped = {
        (r["name_a"], r["name_b"])
        for r in symspell_del1_pairs(
            trio, "name", max_bucket_names=2
        ).collect()
    }
    assert capped == {("brook", "brooke")}


def test_fellegi_sunter_em_replica_and_separation(spark):
    """Two pins: (a) the 3-round EM trajectory matches an exact Python
    replica of the nano-quantized arithmetic; (b) on a planted set —
    10% true-match pairs that agree on both fields, non-matches mostly
    disagreeing — EM learns m >> u on both fields, a p_match near the
    planted rate, and positive agreement weights."""
    from ningaloo_turtle_etl_spark.operators.linkage import (
        fellegi_sunter_em,
    )

    # 40 matches (g0=1, g1=1 mostly), 360 non-matches (mostly 0s)
    rows = []
    for i in range(40):
        rows.append((1, 1 if i % 10 else 0))  # matches: g0 always, g1 90%
    for i in range(360):
        rows.append((1 if i % 20 == 0 else 0, 1 if i % 12 == 0 else 0))
    df = spark.createDataFrame(rows, "g0 int, g1 int")
    got = {
        r["field"]: r
        for r in fellegi_sunter_em(df, ["g0", "g1"], iterations=3).collect()
    }

    import math

    def rnd(v):
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    n = len(rows)
    p, m, u = 0.125, [0.75, 0.75], [0.25, 0.25]
    for _ in range(3):
        sw = swg = scg = None
        sw = 0
        swg = [0, 0]
        scg = [0, 0]
        for g in rows:
            num = p
            den = 1.0 - p
            for j in range(2):
                num = num * (m[j] if g[j] == 1 else 1.0 - m[j])
                den = den * (u[j] if g[j] == 1 else 1.0 - u[j])
            wn = rnd(num / (num + den) * 1e9)
            sw += wn
            for j in range(2):
                swg[j] += g[j] * wn
                scg[j] += g[j] * (1_000_000_000 - wn)
        swd = sw / 1e9
        p = swd / n
        m = [(swg[j] / 1e9) / swd for j in range(2)]
        u = [(scg[j] / 1e9) / (n - swd) for j in range(2)]

    def r6(v):
        import decimal

        return float(
            decimal.Decimal(v).quantize(
                decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    for j, f in enumerate(["g0", "g1"]):
        assert got[f]["m"] == r6(m[j])
        assert got[f]["u"] == r6(u[j])
        assert got[f]["p_match"] == r6(p)
    assert got["g0"]["n_pairs"] == n

    # separation: the match class concentrates on the agree-agree pairs
    assert got["g0"]["m"] > 0.9 and got["g0"]["u"] < 0.15
    assert got["g1"]["m"] > got["g1"]["u"]
    assert got["g0"]["weight_agree"] > 2.0
    assert 0.05 < got["g0"]["p_match"] < 0.2
