"""Unit tests: URL canonicalization / registered-domain edge cases, the
per-domain cap's election + plan shape, TF-IDF cosine pair values against a
numpy reference, and token-entropy hand checks."""

from __future__ import annotations

import math
import re

import pytest

from ningaloo_turtle_etl_spark import registry
from ningaloo_turtle_etl_spark.operators.similarity import tfidf_cosine_pairs
from ningaloo_turtle_etl_spark.operators.text import token_entropy
from ningaloo_turtle_etl_spark.operators.web import (
    cap_per_domain,
    normalize_url,
    registered_domain,
)
from tests.conftest import SF_DIR

URL_CASES = [
    # (raw, normalized, domain)
    ("HTTPS://WWW.Example.COM/A/b?q=1#f", "example.com/A/b", "example.com"),
    ("http://cdn.site.news.co.uk/x/", "cdn.site.news.co.uk/x", "news.co.uk"),
    ("site-blog.org", "site-blog.org", "site-blog.org"),
    ("https://deep.a.b.example.com/P", "deep.a.b.example.com/P", "example.com"),
    ("ftp://Host.Net//", "host.net", "host.net"),
    ("  https://pad.ws.ac.jp/x  ", "pad.ws.ac.jp/x", "ws.ac.jp"),
    ("localhost/admin", "localhost/admin", "localhost"),
    ("https://www.only.com", "only.com", "only.com"),
]


def test_normalize_and_domain_cases(spark):
    df = spark.createDataFrame([(u,) for u, _, _ in URL_CASES], "url string")
    got = df.select(
        "url",
        normalize_url("url").alias("n"),
        registered_domain(normalize_url("url")).alias("d"),
    ).collect()
    by_url = {r["url"]: r for r in got}
    for raw, norm, dom in URL_CASES:
        assert by_url[raw]["n"] == norm, raw
        assert by_url[raw]["d"] == dom, raw


def test_cap_per_domain_elects_longest_then_lowest_id(spark):
    rows = [
        (1, "https://a.com/1", 10),
        (2, "https://www.A.com/2", 30),
        (3, "http://a.com/3", 30),
        (4, "https://b.org/1", 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, n_chars long")
    kept = cap_per_domain(df, cap=2).select("doc_id", "domain", "domain_rank")
    got = sorted((r["doc_id"], r["domain"], r["domain_rank"]) for r in kept.collect())
    # a.com keeps ids 2 (30 chars) then 3 (30 chars, higher id) — id 1 dropped.
    assert got == [(2, "a.com", 1), (3, "a.com", 2), (4, "b.org", 1)]


def test_url_domain_cap_plan_uses_window_group_limit(spark):
    df = registry.queries()["url_domain_cap"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "EvalPython" not in plan  # normalization is pure Catalyst


def test_tfidf_cosine_matches_numpy(spark):
    texts = {
        1: "apple banana apple cherry",
        2: "apple banana banana date",
        3: "zebra yak xylophone",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    # max_df_frac=1.0: no term cut, so cosine must equal the dense reference.
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in tfidf_cosine_pairs(df, threshold=0.0, max_df_frac=1.0).collect()
    }
    import numpy as np

    vocab = sorted({t for v in texts.values() for t in v.split()})
    n = len(texts)
    dfreq = {t: sum(t in v.split() for v in texts.values()) for t in vocab}
    vecs = {}
    for k, v in texts.items():
        tf = {t: v.split().count(t) for t in set(v.split())}
        w = np.array(
            [
                tf.get(t, 0) * (math.log((n + 1) / (dfreq[t] + 1)) + 1)
                for t in vocab
            ]
        )
        vecs[k] = w / np.linalg.norm(w)
    for a, b in [(1, 2), (1, 3), (2, 3)]:
        expect = round(float(np.dot(vecs[a], vecs[b])), 4)
        if expect == 0.0 and (a, b) not in got:
            continue  # no shared term → no posting-join candidate row
        assert got[(a, b)] == pytest.approx(expect, abs=2e-4), (a, b)


def test_tfidf_cosine_df_cut_prunes_postings_not_norms(spark):
    # 'the' appears in every doc (df_frac=1) → excluded from candidates,
    # but still contributes to each doc's L2 norm, shrinking cosines below
    # the no-cut value rather than renormalizing without it.
    df = spark.createDataFrame(
        [(1, "the cat"), (2, "the cat"), (3, "the dog"), (4, "the bird"),
         (5, "the fish")],
        "doc_id long, text string",
    )
    cut = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in tfidf_cosine_pairs(df, threshold=0.0, max_df_frac=0.5).collect()
    }
    full = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in tfidf_cosine_pairs(df, threshold=0.0, max_df_frac=1.0).collect()
    }
    assert full[(1, 2)] == pytest.approx(1.0)
    assert cut[(1, 2)] < 1.0  # 'the' removed from numerator, kept in norms
    assert (1, 3) in full and (1, 3) not in cut  # only shared term was cut


def test_tfidf_cosine_plan_no_cartesian(spark):
    df = registry.queries()["tfidf_cosine_sim_pairs"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # Every nested-loop node must be the broadcast Cross of the 1-row
    # n_docs aggregate — the posting self-join itself is a hash/merge join.
    assert plan.count("BroadcastNestedLoopJoin") == plan.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    )
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[term", plan)


def test_token_entropy_hand_values(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "x x x x"), (3, "")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in token_entropy(df).collect()}
    assert set(got) == {1, 2}  # empty doc drops
    h1 = -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3))
    assert got[1]["entropy"] == pytest.approx(h1, abs=1e-6)
    assert got[1]["n_tokens"] == 3 and got[1]["n_types"] == 2
    assert got[2]["entropy"] == 0.0
    assert got[2]["type_token_ratio"] == 0.25
