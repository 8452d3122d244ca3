"""Unit tests: URL canonicalization / registered-domain edge cases, the
per-domain cap's election + plan shape, and token-entropy hand checks."""

from __future__ import annotations

import math

import pytest

from ningaloo_turtle_etl_spark import registry
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
