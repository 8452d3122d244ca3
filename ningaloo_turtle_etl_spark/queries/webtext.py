"""Web-corpus curation + lexical-statistics queries: URL canonicalization
with per-domain quota capping (C4/RefinedWeb source hygiene) and
per-document token entropy. All fully DuckDB-oracled.

The documents table carries no URL column, so ``url_domain_cap``
synthesizes deterministically messy URLs from (source, doc_id) — uppercase
schemes/hosts, www prefixes, tracking query strings, fragments, trailing
slashes, and a shared hot domain (every third doc lands under one
registered domain, news.co.uk) so the cap demonstrably bites.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.registry import register
from ningaloo_turtle_etl_spark.sources.tables import load_table

# Deterministic messy-URL synthesis, expressed twice (Spark/DuckDB) with
# identical semantics. case 0: uppercase scheme+host, distinct .com domain;
# case 1: cdn subdomain under ONE shared co.uk registered domain (the hot
# key); case 2: scheme-less distinct .org domain.
_URL_SQL = """
    CASE CAST(doc_id % 3 AS INT)
      WHEN 0 THEN 'HTTPS://WWW.' || source || '-Media.COM'
      WHEN 1 THEN 'http://cdn.' || source || '.news.co.uk'
      ELSE source || '-blog.org'
    END
    || '/Article/' || CAST(doc_id % 40 AS VARCHAR)
    || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
    || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&ref=x' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN '#Section-2' ELSE '' END
"""


def _url_col():
    d = F.col("doc_id")
    host = (
        F.when(
            (d % 3) == 0, F.concat(F.lit("HTTPS://WWW."), F.col("source"), F.lit("-Media.COM"))
        )
        .when((d % 3) == 1, F.concat(F.lit("http://cdn."), F.col("source"), F.lit(".news.co.uk")))
        .otherwise(F.concat(F.col("source"), F.lit("-blog.org")))
    )
    return F.concat(
        host,
        F.lit("/Article/"),
        (d % 40).cast("string"),
        F.when((d % 7) == 0, F.lit("/")).otherwise(F.lit("")),
        F.when((d % 2) == 0, F.lit("?utm_source=feed&ref=x")).otherwise(F.lit("")),
        F.when((d % 5) == 0, F.lit("#Section-2")).otherwise(F.lit("")),
    )


@register(
    "url_domain_cap",
    f"""
    WITH u AS (
      SELECT doc_id, n_chars, {_URL_SQL} AS url FROM documents
    ),
    norm AS (
      SELECT doc_id, n_chars,
             lower(regexp_extract(regexp_replace(regexp_replace(regexp_replace(
                 trim(url), '#.*$', ''), '\\?.*$', ''),
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '^([^/]*)', 1)) AS rawhost,
             regexp_replace(regexp_extract(regexp_replace(regexp_replace(regexp_replace(
                 trim(url), '#.*$', ''), '\\?.*$', ''),
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '^[^/]*(/.*)?$', 1),
                 '/+$', '') AS path
      FROM u
    ),
    n2 AS (
      SELECT doc_id, n_chars,
             regexp_replace(rawhost, '^www\\.', '') AS host, path
      FROM norm
    ),
    dom AS (
      SELECT doc_id, n_chars, host || path AS url_norm,
             CASE
               WHEN regexp_extract(host,
                 '([^.]+\\.(?:co|com|net|org|gov|edu|ac)\\.[a-z]{{2}})$', 1) <> ''
               THEN regexp_extract(host,
                 '([^.]+\\.(?:co|com|net|org|gov|edu|ac)\\.[a-z]{{2}})$', 1)
               WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) <> ''
               THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
               ELSE host
             END AS domain
      FROM n2
    ),
    ranked AS (
      SELECT doc_id, url_norm, domain,
             CAST(row_number() OVER (PARTITION BY domain
                    ORDER BY n_chars DESC, doc_id ASC) AS INT) AS domain_rank
      FROM dom
    )
    SELECT doc_id, url_norm, domain, domain_rank
    FROM ranked WHERE domain_rank <= 5
    ORDER BY domain, domain_rank
    """,
)
def url_domain_cap(spark, sf_dir):
    """URL canonicalization + registered-domain extraction + per-domain
    quota (keep the 5 longest docs per domain) — `operators/web.py`. The
    synthetic URL mix sends a third of the corpus under ONE registered
    domain (news.co.uk across all cdn.srcN subdomains), so the quota
    visibly truncates a hot domain while small domains pass untouched.
    Normalization is map-only Catalyst regex; the cap's row_number runs
    under WindowGroupLimit (map-side pre-trim before the domain
    shuffle)."""
    from ningaloo_turtle_etl_spark.operators.web import cap_per_domain

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "n_chars", "source"
    )
    capped = cap_per_domain(docs.withColumn("url", _url_col()), cap=5)
    return capped.select(
        "doc_id", "url_norm", "domain", F.col("domain_rank").cast("int").alias("domain_rank")
    )


@register(
    "token_entropy_quality",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                    x -> x <> '')) AS tok
      FROM documents
    ),
    c AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) AS entropy,
           ROUND(COUNT(*) / (1.0 * SUM(c)), 6) AS type_token_ratio
    FROM c GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def token_entropy_quality(spark, sf_dir):
    """Per-document Shannon entropy + type-token ratio over the token
    distribution (`operators/text.py token_entropy`) — the
    information-density quality signal. Zero-token docs drop by
    definition; both shuffles key on doc_id so Catalyst reuses one
    Exchange."""
    from ningaloo_turtle_etl_spark.operators.text import token_entropy

    docs = load_table(spark, "documents", sf_dir)
    return token_entropy(docs)
