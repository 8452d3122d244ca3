"""Data-selection operators: exact stratified sampling, drift metrics, and
DSIR importance weighting — semantics pinned against independent Python
references (the oracle sweep in test_oracle_all covers cross-engine parity).
"""

from __future__ import annotations

import hashlib
import math

import pyspark.sql.functions as F
import pytest

from ningaloo_turtle_etl_spark.operators.selection import (
    corpus_drift_metrics,
    dsir_bucket_log_ratios,
    dsir_scores,
    dsir_top_select,
    stratified_sample_exact,
    stratum_quotas,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (
            i,
            f"s{i % 5}",
            " ".join(f"w{(i * 7 + j) % 23}" for j in range(6)),
        )
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _hamilton(counts: dict[str, int], n: int) -> dict[str, int]:
    total = sum(counts.values())
    base = {s: math.floor(n * w / total) for s, w in counts.items()}
    frac = {s: n * counts[s] / total - base[s] for s in counts}
    leftover = n - sum(base.values())
    for s in sorted(counts, key=lambda s: (-frac[s], s))[:leftover]:
        base[s] += 1
    return {s: min(base[s], counts[s]) for s in counts}


def test_quotas_are_hamilton_and_sum_exactly(spark, docs):
    counts = {r["source"]: r["n"] for r in docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    got = {r["source"]: r["quota"] for r in stratum_quotas(
        docs, 37, "source").collect()}
    assert got == _hamilton(counts, 37)
    assert sum(got.values()) == 37


def test_exact_sample_size_and_membership(spark, docs):
    out = stratified_sample_exact(docs, 50, "source", "doc_id")
    rows = out.collect()
    assert len(rows) == 50
    # Per-stratum counts equal the quotas.
    per = {}
    for r in rows:
        per[r["source"]] = per.get(r["source"], 0) + 1
    counts = {r["source"]: r["n"] for r in docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert per == _hamilton(counts, 50)
    # The chosen ids are exactly the quota smallest md5-of-id per stratum.
    by_stratum: dict[str, list[tuple[str, int]]] = {}
    for r in docs.select("doc_id", "source").collect():
        h = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8]
        by_stratum.setdefault(r["source"], []).append((h, r["doc_id"]))
    expected = set()
    for s, pairs in by_stratum.items():
        for _, doc_id in sorted(pairs)[: per[s]]:
            expected.add(doc_id)
    assert {r["doc_id"] for r in rows} == expected


def test_prefilter_scale_path_is_equivalent(spark, docs):
    exact = stratified_sample_exact(docs, 60, "source", "doc_id")
    gated = stratified_sample_exact(
        docs, 60, "source", "doc_id", prefilter_margin=3.0
    )
    assert sorted(r["doc_id"] for r in exact.collect()) == sorted(
        r["doc_id"] for r in gated.collect()
    )


def test_prefilter_shortfall_self_repairs(spark, docs):
    # Regression (ADVICE r03): a margin so tight the gate passes fewer than
    # quota rows used to under-sample silently. The rescue branch must
    # re-sample short strata ungated, so the output is exact — and
    # IDENTICAL to the ungated sample — for any margin.
    exact = sorted(
        r["doc_id"] for r in stratified_sample_exact(docs, 60, "source").collect()
    )
    for margin in (0.01, 0.2, 1.0):
        got = stratified_sample_exact(
            docs, 60, "source", "doc_id", prefilter_margin=margin
        ).collect()
        assert len(got) == 60, margin
        assert sorted(r["doc_id"] for r in got) == exact, margin


def test_drift_zero_on_identical_snapshots(spark, docs):
    row = corpus_drift_metrics(docs, docs).collect()[0]
    assert row["kl_ab"] == 0.0 and row["kl_ba"] == 0.0
    assert row["js_divergence"] == 0.0 and row["total_variation"] == 0.0


def test_drift_matches_numpy_reference(spark):
    a_texts = ["a a b c", "a b b d"]
    b_texts = ["a c c c", "d d e"]
    a = spark.createDataFrame([(i, t) for i, t in enumerate(a_texts)],
                              "doc_id long, text string")
    b = spark.createDataFrame([(i, t) for i, t in enumerate(b_texts)],
                              "doc_id long, text string")
    row = corpus_drift_metrics(a, b, smoothing=0.5).collect()[0]

    def counts(texts):
        c: dict[str, int] = {}
        for t in texts:
            for w in t.split():
                c[w] = c.get(w, 0) + 1
        return c

    ca, cb = counts(a_texts), counts(b_texts)
    vocab = sorted(set(ca) | set(cb))
    ta, tb, v = sum(ca.values()), sum(cb.values()), len(vocab)
    pa = [(ca.get(w, 0) + 0.5) / (ta + 0.5 * v) for w in vocab]
    pb = [(cb.get(w, 0) + 0.5) / (tb + 0.5 * v) for w in vocab]
    kl_ab = sum(x * math.log(x / y) for x, y in zip(pa, pb))
    kl_ba = sum(y * math.log(y / x) for x, y in zip(pa, pb))
    js = 0.5 * sum(x * math.log(x / ((x + y) / 2)) for x, y in zip(pa, pb)) + \
        0.5 * sum(y * math.log(y / ((x + y) / 2)) for x, y in zip(pa, pb))
    tv = 0.5 * sum(abs(x - y) for x, y in zip(pa, pb))
    assert row["n_tokens_a"] == ta and row["n_tokens_b"] == tb
    assert row["vocab_size"] == v
    assert abs(row["kl_ab"] - kl_ab) < 1e-6
    assert abs(row["kl_ba"] - kl_ba) < 1e-6
    assert abs(row["js_divergence"] - js) < 1e-6
    assert abs(row["total_variation"] - tv) < 1e-6
    # JS is bounded by ln 2; TV by 1; KLs nonnegative.
    assert 0 <= row["js_divergence"] <= math.log(2.0)
    assert 0 <= row["total_variation"] <= 1.0
    assert row["kl_ab"] >= 0 and row["kl_ba"] >= 0


def _py_bucket(gram: str, n_buckets: int) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:8], 16) % n_buckets


def test_dsir_weights_match_python_reference(spark):
    target_texts = ["the cat sat on the mat", "the dog sat on the rug"]
    pool_texts = {
        10: "the cat sat on the mat",  # identical to target style
        11: "qq ww ee rr tt yy",  # disjoint vocabulary
        12: "the cat ate qq ww",  # mixed
    }
    target = spark.createDataFrame(
        [(i, t) for i, t in enumerate(target_texts)], "doc_id long, text string"
    )
    pool = spark.createDataFrame(
        list(pool_texts.items()), "doc_id long, text string"
    )
    B, lam = 64, 1.0
    ratios = {r["bucket"]: r["log_ratio"] for r in dsir_bucket_log_ratios(
        target, pool, ngram_n=2, n_buckets=B, smoothing=lam).collect()}
    scores = {r["doc_id"]: r for r in dsir_scores(
        pool, dsir_bucket_log_ratios(target, pool, 2, B, lam),
        ngram_n=2, n_buckets=B).collect()}

    def grams(text):
        toks = text.lower().split()
        return [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]

    # Independent ratio computation.
    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    for t in target_texts:
        for g in grams(t):
            b = _py_bucket(g, B)
            ct[b] = ct.get(b, 0) + 1
    for t in pool_texts.values():
        for g in grams(t):
            b = _py_bucket(g, B)
            cr[b] = cr.get(b, 0) + 1
    tt, tr = sum(ct.values()), sum(cr.values())
    for b in set(ct) | set(cr):
        ref = math.log((ct.get(b, 0) + lam) / (tt + lam * B)) - math.log(
            (cr.get(b, 0) + lam) / (tr + lam * B)
        )
        assert abs(ratios[b] - ref) < 1e-9, b

    # Per-doc weights = sum of ratios over the doc's gram buckets.
    for doc_id, text in pool_texts.items():
        ref_w = sum(ratios[_py_bucket(g, B)] for g in grams(text))
        assert abs(scores[doc_id]["log_weight"] - ref_w) < 1e-9
        assert scores[doc_id]["n_grams"] == len(grams(text))

    # Target-like docs outrank disjoint-vocabulary docs.
    assert scores[10]["log_weight"] > scores[12]["log_weight"] > scores[11]["log_weight"]


def test_dsir_select_plan_is_top_n_not_global_sort(spark, docs):
    target = docs.filter(F.col("doc_id") % 3 == 0)
    pool = docs.filter(F.col("doc_id") % 3 != 0)
    sel = dsir_top_select(pool, target, 10, ngram_n=2, n_buckets=64)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    out = sel.collect()
    assert len(out) == 10
    weights = [r["log_weight"] for r in out]
    assert weights == sorted(weights, reverse=True)


def test_weighted_sample_matches_python_reference(spark):
    from ningaloo_turtle_etl_spark.operators.selection import weighted_sample_topn

    rows = [(i, 10 if i % 10 == 0 else 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = weighted_sample_topn(df, 40, weight_col="n_chars").collect()
    assert len(out) == 40

    def key(doc_id, w):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        u = (h + 1.0) / 4294967297.0
        return round(math.log(u), 12) / w

    expected = sorted(rows, key=lambda r: (-key(r[0], r[1]), r[0]))[:40]
    assert [(r["doc_id"], r["n_chars"]) for r in out] == expected
    # The log key ln(u)/w is the monotone transform of the classic A-Res
    # key u^(1/w): the selected SET must equal the raw-key reference too.
    raw_expected = sorted(
        rows,
        key=lambda r: (
            -(
                ((int(hashlib.md5(str(r[0]).encode()).hexdigest()[:8], 16) + 1.0)
                 / 4294967297.0)
                ** (1.0 / r[1])
            ),
            r[0],
        ),
    )[:40]
    assert {(r["doc_id"], r["n_chars"]) for r in out} == set(raw_expected)
    # log keys are ≤ 0 and the frame is ranked by them
    keys = [r["sample_key"] for r in out]
    assert all(k <= 0 for k in keys)
    assert keys == sorted(keys, reverse=True)


def test_weighted_sample_huge_weights_do_not_collapse_to_id_order(spark):
    # Regression (ADVICE r03): with the raw key rounded at 9 decimals,
    # weights ≳1e8 mass-tied at key≈1.0 and selection degenerated to
    # ascending-id order. The log key must keep following the A-Res
    # reference at any weight scale.
    from ningaloo_turtle_etl_spark.operators.selection import weighted_sample_topn

    rows = [(i, int(1e8) * ((i * 13) % 7 + 1)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = [r["doc_id"] for r in weighted_sample_topn(df, 60, "n_chars").collect()]

    def logkey(doc_id, w):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        return round(math.log((h + 1.0) / 4294967297.0), 12) / w

    expected = [
        r[0] for r in sorted(rows, key=lambda r: (-logkey(r[0], r[1]), r[0]))[:60]
    ]
    assert out == expected
    assert set(out) != set(range(60))  # not the degenerate lowest-ids set


def test_weighted_sample_favors_heavy_rows(spark):
    from ningaloo_turtle_etl_spark.operators.selection import weighted_sample_topn

    # 10% of rows carry weight 20, the rest weight 1: heavy rows should be
    # included at a much higher rate (A-Res inclusion is monotone in weight).
    rows = [(i, 20 if i % 10 == 0 else 1) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = weighted_sample_topn(df, 200, weight_col="n_chars").collect()
    heavy = sum(1 for r in out if r["n_chars"] == 20)
    light = len(out) - heavy
    heavy_rate = heavy / 200  # 200 heavy rows exist
    light_rate = light / 1800
    assert heavy_rate > 4 * light_rate
    # zero/negative weights are excluded entirely
    df2 = spark.createDataFrame([(1, 0), (2, -3), (3, 5)], "doc_id long, n_chars long")
    kept = weighted_sample_topn(df2, 10, weight_col="n_chars").collect()
    assert [r["doc_id"] for r in kept] == [3]


def test_weighted_sample_equal_weights_is_hash_uniform(spark):
    from ningaloo_turtle_etl_spark.operators.curation import _sample_hash
    from ningaloo_turtle_etl_spark.operators.selection import weighted_sample_topn
    import pyspark.sql.functions as FF

    df = spark.createDataFrame([(i, 7) for i in range(500)], "doc_id long, n_chars long")
    out = {r["doc_id"] for r in weighted_sample_topn(df, 50, "n_chars").collect()}
    # u^(1/w) with constant w is monotone in u → the winners are exactly the
    # 50 LARGEST md5 hashes (the mirror image of the stratified sampler's
    # smallest-hash rule).
    ranked = df.select("doc_id", _sample_hash("doc_id").alias("h")).orderBy(
        FF.desc("h"), "doc_id"
    ).limit(50).collect()
    assert out == {r["doc_id"] for r in ranked}


def test_dsir_share_scan_paths_agree_and_release(spark, docs):
    from ningaloo_turtle_etl_spark.operators.cache import (
        release_tracked_caches,
        tracked_cache_scope,
    )

    target = docs.filter(F.col("doc_id") % 3 == 0)
    pool = docs.filter(F.col("doc_id") % 3 != 0)
    release_tracked_caches()
    with tracked_cache_scope():
        shared = dsir_top_select(pool, target, 15, ngram_n=2, n_buckets=64).collect()
    unshared = dsir_top_select(
        pool, target, 15, ngram_n=2, n_buckets=64, share_scan=False
    ).collect()
    assert [(r["doc_id"], r["log_weight"]) for r in shared] == [
        (r["doc_id"], r["log_weight"]) for r in unshared
    ]
    # scope released the shared persist; unshared never created one
    assert release_tracked_caches() == 0


def test_leakage_safe_split_groups_stay_together(spark):
    from ningaloo_turtle_etl_spark.operators.selection import (
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [
            (1, "same   text here"),
            (2, "Same text  HERE"),  # normalizes to the same fingerprint
            (3, "something else"),
            (4, "third doc"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           leakage_safe_split(docs, val_frac=0.5).collect()}
    assert got[1]["anchor_id"] == got[2]["anchor_id"] == 1
    assert got[1]["group_size"] == 2 and got[3]["group_size"] == 1
    # the whole dup group lands on ONE side
    assert got[1]["split"] == got[2]["split"]
    # deterministic across invocations
    again = {r["doc_id"]: r["split"] for r in
             leakage_safe_split(docs, val_frac=0.5).collect()}
    assert again == {k: v["split"] for k, v in got.items()}
    # extreme fractions pin every group to one side
    all_train = leakage_safe_split(docs, val_frac=1e-9).collect()
    assert {r["split"] for r in all_train} == {"train"}


def test_cv_fold_assignment_deterministic_and_balanced(spark):
    """The md5-uniform fold id matches a hashlib replica exactly, every
    doc lands in exactly one of the 5 folds, and the fold sizes are
    roughly balanced (md5 is uniform)."""
    import hashlib

    import pyspark.sql.functions as F

    df = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    folds = df.select(
        "doc_id",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 5
        ).alias("fold"),
    ).collect()
    for r in folds:
        h = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
        assert r["fold"] == h % 5
    sizes = {}
    for r in folds:
        sizes[r["fold"]] = sizes.get(r["fold"], 0) + 1
    assert set(sizes) == {0, 1, 2, 3, 4}
    assert max(sizes.values()) < 2 * min(sizes.values())


def test_kcenter_select_replica_and_coverage(spark):
    """Greedy farthest-point traversal: (a) exact match vs a Python
    replica of the integer-micro distance arithmetic on planted 2-D
    clusters; (b) the selection visits every cluster before revisiting
    one (the diversity property); (c) radius is non-increasing; (d)
    ties and duplicate points stop the traversal early."""
    import math

    from ningaloo_turtle_etl_spark.operators.selection import kcenter_select

    # four tight clusters at the corners of a square
    pts = []
    for ci, (cx, cy) in enumerate([(0, 0), (10, 0), (0, 10), (10, 10)]):
        for j in range(5):
            pts.append((ci * 10 + j, [cx + j * 0.1, cy - j * 0.1]))
    df = spark.createDataFrame(
        [(i, [float(a) for a in v]) for i, v in pts],
        "vec_id long, embedding array<float>",
    )
    got = [
        (r["pos"], r["id"], r["radius"])
        for r in kcenter_select(df, k=6).collect()
    ]

    def rnd(v):
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    def dist_m(a, b):
        import numpy as np

        a = [float(np.float32(x)) for x in a]
        b = [float(np.float32(x)) for x in b]
        return sum(rnd((x - c) * (x - c) * 1e6) for x, c in zip(a, b))

    coords = dict(pts)
    sel = [min(coords)]
    dmin = {i: dist_m(v, coords[sel[0]]) for i, v in coords.items()}
    want = [(1, sel[0], None)]
    for pos in range(2, 7):
        cid = max(dmin, key=lambda i: (dmin[i], -i))
        want.append((pos, cid, round(dmin[cid] / 1e6, 6)))
        for i, v in coords.items():
            dmin[i] = min(dmin[i], dist_m(v, coords[cid]))
    assert got == want

    # diversity: the first 4 selections hit 4 distinct clusters
    first4_clusters = {i // 10 for _, i, _ in got[:4]}
    assert first4_clusters == {0, 1, 2, 3}
    # radius non-increasing
    radii = [r for _, _, r in got[1:]]
    assert radii == sorted(radii, reverse=True)

    # duplicates: 3 distinct points, k=5 -> stops at 3 rows
    dup = spark.createDataFrame(
        [(i, [float(i % 3), 0.0]) for i in range(9)],
        "vec_id long, embedding array<float>",
    )
    short = kcenter_select(dup, k=5).collect()
    assert len(short) == 3
