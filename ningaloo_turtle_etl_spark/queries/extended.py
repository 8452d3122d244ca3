"""Extended-coverage queries: P4 regex select, A8/U3 grouped HTML render,
A10 pairwise distances, the MARK capture-history pivot, embedding-cosine
near-dup, and the spark.sql entry surface."""

from __future__ import annotations

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.operators.dedup import embedding_near_dup_pairs
from ningaloo_turtle_etl_spark.operators.relational import (
    encounter_history_pivot,
    grouped_html_table,
    pairwise_distances,
    select_regex,
)
from ningaloo_turtle_etl_spark.registry import register
from ningaloo_turtle_etl_spark.sources.tables import load_table, register_temp_views


@register(
    "select_regex_columns",
    "SELECT l_partkey, l_quantity FROM lineitem",
)
def select_regex_columns(spark, sf_dir):
    """P4: predicate-based column selection (select(starts_with(...)),
    spatial_modelling.Rmd:221)."""
    li = load_table(spark, "lineitem", sf_dir)
    return select_regex(li, r"^l_(partkey|quantity)$")


@register(
    "grouped_html_popup",
    """
    SELECT o_orderpriority,
           '<table><tr><th>o_orderkey</th><th>o_totalprice</th></tr>'
           || string_agg('<tr><td>' || o_orderkey || '</td><td>' || o_totalprice
                         || '</td></tr>', ''
                         ORDER BY '<tr><td>' || o_orderkey || '</td><td>'
                                  || o_totalprice || '</td></tr>')
           || '</table>' AS html
    FROM orders
    WHERE o_totalprice > 450000
    GROUP BY 1
    """,
)
def grouped_html_popup(spark, sf_dir):
    """A8/U3: per-group HTML sub-table (make_popup, ningaloo-etl.Rmd:336-344)
    as a pure aggregation (sorted collect_list + concat), no UDF."""
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 450000)
    return grouped_html_table(o, "o_orderpriority", ["o_orderkey", "o_totalprice"])


@register(
    "pairwise_site_distances",
    """
    WITH pts AS (
        SELECT n_nationkey AS id,
               CAST(n_regionkey AS DOUBLE) AS gx,
               CAST(n_nationkey % 7 AS DOUBLE) AS gy
        FROM nation
    )
    SELECT a.id AS id_a, b.id AS id_b,
           sqrt((a.gx - b.gx)*(a.gx - b.gx) + (a.gy - b.gy)*(a.gy - b.gy)) AS dist
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE sqrt((a.gx - b.gx)*(a.gx - b.gx) + (a.gy - b.gy)*(a.gy - b.gy)) <= 3.0
    """,
)
def pairwise_site_distances(spark, sf_dir):
    """A10: dist(X) as the long (i<j, d≤τ) relation with threshold pruning
    (spatial_modelling.Rmd:217-224)."""
    n = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("id"),
        F.col("n_regionkey").cast("double").alias("gx"),
        (F.col("n_nationkey") % 7).cast("double").alias("gy"),
    )
    return pairwise_distances(n, "id", ["gx", "gy"], max_distance=3.0)


@register(
    "mark_capture_history",
    """
    SELECT user_id,
           CAST(CASE WHEN COUNT(CASE WHEN WEEK(ts) = 1 THEN 1 END) > 0 THEN 1 ELSE 0 END AS INT) AS "1",
           CAST(CASE WHEN COUNT(CASE WHEN WEEK(ts) = 2 THEN 1 END) > 0 THEN 1 ELSE 0 END AS INT) AS "2",
           CAST(CASE WHEN COUNT(CASE WHEN WEEK(ts) = 3 THEN 1 END) > 0 THEN 1 ELSE 0 END AS INT) AS "3",
           CAST(CASE WHEN COUNT(CASE WHEN WEEK(ts) = 4 THEN 1 END) > 0 THEN 1 ELSE 0 END AS INT) AS "4",
           CAST(CASE WHEN COUNT(CASE WHEN WEEK(ts) = 5 THEN 1 END) > 0 THEN 1 ELSE 0 END AS INT) AS "5"
    FROM events GROUP BY user_id
    """,
)
def mark_capture_history(spark, sf_dir):
    """The MARK capture-history matrix (wastd-api.Rmd:69-72): entity ×
    period encounter 0/1 pivot (periods = ISO week of the event)."""
    ev = load_table(spark, "events", sf_dir).withColumn("wk", F.weekofyear("ts"))
    return encounter_history_pivot(ev, "user_id", "wk", [1, 2, 3, 4, 5])


_DOT_AB = "list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), x -> x[1]*x[2]))"
_NORM_X = "sqrt(list_sum(list_transform(CAST({0}.embedding AS DOUBLE[]), x -> x*x)))"


@register(
    "embedding_near_dup_pairs",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_DOT_AB} / ({_NORM_X.format('a')} * {_NORM_X.format('b')}), 6) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < b.vec_id AND a.vec_id < 100 AND b.vec_id < 100
    WHERE {_DOT_AB} / ({_NORM_X.format('a')} * {_NORM_X.format('b')}) >= 0.3
    """,
)
def embedding_near_dup_query(spark, sf_dir):
    """Embedding-cosine near-dup pairs by exact cosine over a bounded
    candidate set (the first 100 vectors)."""
    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 100)
    return embedding_near_dup_pairs(emb, threshold=0.3)


@register(
    "sql_entry_point",
    """
    SELECT n.n_name AS nation_name, COUNT(*) AS n_customers,
           ROUND(AVG(c.c_acctbal), 4) AS avg_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def sql_entry_point(spark, sf_dir):
    """The engine's SQL surface: identical ANSI SQL runs through spark.sql
    over registered views — Catalyst plans it like the DataFrame form."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name AS nation_name, COUNT(*) AS n_customers,
               ROUND(AVG(c.c_acctbal), 4) AS avg_acctbal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
        """
    )


@register(
    "snapshot_delta_report",
    """
    WITH old AS (
      SELECT doc_id,
             md5(concat_ws(chr(31),
                 coalesce(CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END,
                          chr(31) || chr(0)),
                 coalesce(lang, chr(31) || chr(0)),
                 coalesce(source, chr(31) || chr(0)),
                 coalesce(CAST(n_chars AS VARCHAR), chr(31) || chr(0)))) AS old_fp
      FROM documents WHERE doc_id % 13 != 5
    ),
    new AS (
      SELECT doc_id,
             md5(concat_ws(chr(31),
                 coalesce(text, chr(31) || chr(0)),
                 coalesce(lang, chr(31) || chr(0)),
                 coalesce(source, chr(31) || chr(0)),
                 coalesce(CAST(n_chars AS VARCHAR), chr(31) || chr(0)))) AS new_fp
      FROM documents WHERE doc_id % 11 != 3
    )
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old_fp IS NULL THEN 'added'
                WHEN new_fp IS NULL THEN 'removed'
                WHEN old_fp != new_fp THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    """,
)
def snapshot_delta_report(spark, sf_dir):
    """Incremental-refresh diff: classify every doc_id as added / removed /
    changed / unchanged between two snapshot versions (derived
    deterministically from the documents table: the 'old' snapshot is
    missing doc_id%13==5, carries upper-cased text for doc_id%7==0, and the
    'new' one dropped doc_id%11==3). The reference refreshes by full
    re-download (`ningaloo-etl.Rmd:41,47-53`); this is the primitive that
    replaces that at scale — the join shuffles only (key, md5 fingerprint)
    pairs, never document payloads."""
    from ningaloo_turtle_etl_spark.operators.delta import snapshot_diff

    docs = load_table(spark, "documents", sf_dir)
    old = docs.filter(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.upper(F.col("text"))).otherwise(
            F.col("text")
        ),
    )
    new = docs.filter(F.col("doc_id") % 11 != 3)
    return snapshot_diff(
        old, new, keys=["doc_id"], compare_cols=["text", "lang", "source", "n_chars"]
    )
