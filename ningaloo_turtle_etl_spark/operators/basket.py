"""Market-basket association mining (Agrawal & Srikant 1994, Apriori).

Frequent-pair mining over (basket, item) facts and the association-rule
metrics read off the pair supports: support, confidence, lift. On a corpus
of co-occurrence facts this is the classic "what goes with what" operator —
the same shape serves co-purchase affinity, tag co-occurrence, and
template/token co-occurrence audits.

Scale shape (the Apriori downward-closure argument, executed in Spark):
1. Item supports are one hash aggregate; items below min_support are pruned
   FIRST. A pair can only be frequent if both members are (downward
   closure), so the prune is lossless and the frequent-item set is small
   enough to broadcast as a semi-join filter.
2. The pair blowup is per-basket (self-join keyed on the basket id over
   frequent items only), never global — a basket of m frequent items emits
   C(m,2) pairs. ``max_basket_items`` caps pathological baskets the same
   way the LSH bucket cap does: a 10k-item basket would emit 50M pairs and
   its pairs are support-meaningless anyway.
3. Pair counts are a (a,b)-keyed hash aggregate with map-side combine;
   rule metrics join the (tiny, already-support-filtered) item dim twice
   as broadcasts; n_baskets is a broadcast scalar.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window


def _basket_items(facts: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    return facts.select(
        F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it")
    ).distinct()


def _pairs_from_bi(
    bi: DataFrame,
    min_support: int,
    min_item_support: int,
    max_basket_items: int | None,
) -> DataFrame:
    freq_items = (
        bi.groupBy("_it")
        .agg(F.count(F.lit(1)).alias("_supp"))
        .filter(F.col("_supp") >= F.lit(int(min_item_support)))
    )
    kept = bi.join(freq_items.select("_it"), on="_it", how="left_semi")
    if max_basket_items is not None:
        w = Window.partitionBy("_bk")
        kept = (
            kept.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= F.lit(int(max_basket_items)))
            .drop("_bn")
        )
    a = kept.select("_bk", F.col("_it").alias("item_a"))
    b = kept.select("_bk", F.col("_it").alias("item_b"))
    return (
        a.join(b, on="_bk")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_support"))
        .filter(F.col("pair_support") >= F.lit(int(min_support)))
    )


def frequent_pairs(
    facts: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    min_item_support: int | None = None,
    max_basket_items: int | None = 1000,
) -> DataFrame:
    """Unordered frequent item pairs (a < b) with their basket support.

    ``min_item_support`` defaults to ``min_support`` (downward closure:
    pruning items below the PAIR threshold is exact, never approximate —
    raise it independently to prune harder at the cost of recall below
    that item support). ``max_basket_items`` drops baskets with more
    frequent items than the cap before pairing. Output: ``item_a``,
    ``item_b``, ``pair_support``.
    """
    if min_item_support is None:
        min_item_support = min_support
    bi = _basket_items(facts, basket_col, item_col)
    return _pairs_from_bi(bi, min_support, min_item_support, max_basket_items)


def association_rules(
    facts: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_items: int | None = 1000,
    ndigits: int = 6,
) -> DataFrame:
    """Directed association rules a → b over the frequent pairs: for each
    ordered pair, ``pair_support`` (baskets containing both),
    ``antecedent_support`` / ``consequent_support`` (baskets containing
    each side), ``support`` (= pair_support / n_baskets), ``confidence``
    (= pair_support / antecedent_support), and ``lift`` (= confidence /
    (consequent_support / n_baskets); > 1 means the pair co-occurs more
    than independence predicts).

    Each unordered frequent pair emits both directions. The (basket, item)
    distinct pass is shared between the pair mine and the support dims, so
    the facts are scanned once.
    """
    from pyspark import StorageLevel

    from ningaloo_turtle_etl_spark.operators.cache import track_cache

    bi = track_cache(
        _basket_items(facts, basket_col, item_col).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    supp = (
        bi.groupBy("_it")
        .agg(F.count(F.lit(1)).alias("_supp"))
        # downward closure: every endpoint of a frequent pair is itself
        # frequent, so the dim can be support-filtered before broadcast.
        .filter(F.col("_supp") >= F.lit(int(min_support)))
    )
    n_baskets = bi.select("_bk").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    und = _pairs_from_bi(bi, min_support, min_support, max_basket_items)
    directed = und.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "pair_support",
    ).unionByName(
        und.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            "pair_support",
        )
    )
    sa = supp.select(F.col("_it").alias("antecedent"), F.col("_supp").alias("_sa"))
    sb = supp.select(F.col("_it").alias("consequent"), F.col("_supp").alias("_sb"))
    out = (
        directed.join(F.broadcast(sa), on="antecedent")
        .join(F.broadcast(sb), on="consequent")
        .crossJoin(F.broadcast(n_baskets))
    )
    conf = F.col("pair_support") / F.col("_sa")
    return out.select(
        "antecedent",
        "consequent",
        "pair_support",
        F.col("_sa").alias("antecedent_support"),
        F.col("_sb").alias("consequent_support"),
        F.round(F.col("pair_support") / F.col("n_baskets"), ndigits).alias(
            "support"
        ),
        F.round(conf, ndigits).alias("confidence"),
        F.round(
            conf / (F.col("_sb") / F.col("n_baskets")), ndigits
        ).alias("lift"),
    )


def item_cosine_pairs(
    facts: DataFrame,
    basket_col: str,
    item_col: str,
    min_co: int = 2,
    top_n: int = 100,
) -> DataFrame:
    """Item-item cosine (Ochiai) similarity over binary basket-item
    incidence — THE classic item-based collaborative-filtering score
    (Sarwar et al. 2001): cos(i, j) = co(i,j) / √(n_i·n_j) on 0/1
    vectors, needing only the co-occurrence grid and per-item counts.
    Complements `assoc_rules_copurchase` (directional confidence/lift)
    with the symmetric similarity RANKING recommenders serve directly.

    Pairs below ``min_co`` shared baskets are dropped (noise floor and
    the fanout cap — the support threshold every CF system applies);
    top ``top_n`` by (cosine desc, id_a, id_b). 6dp on the output; the
    ordering key is the rounded value with id tiebreaks, so the cut is
    deterministic cross-engine.

    Scale shape: one distinct (basket, item) projection; the pair grid
    comes from a basket-keyed self-join (fanout per-basket-size²);
    counts and the final arithmetic run at item/pair grain. TakeOrdered
    serves the top-N."""
    if min_co < 1 or top_n < 1:
        raise ValueError("min_co and top_n must be >= 1")
    bi = facts.select(
        F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
    ).distinct()
    from pyspark import StorageLevel

    bi = bi.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        ni = bi.groupBy(F.col("it").alias("i")).agg(
            F.count(F.lit(1)).cast("long").alias("ni")
        )
        a = bi.select("bk", F.col("it").alias("id_a"))
        b = bi.select("bk", F.col("it").alias("id_b"))
        co = (
            a.join(b, on="bk")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("long").alias("co"))
            .filter(F.col("co") >= F.lit(int(min_co)))
        )
        cos = F.col("co") / F.sqrt(
            F.col("na").cast("double") * F.col("nb").cast("double")
        )
        out = (
            co.join(ni.select(F.col("i").alias("id_a"),
                              F.col("ni").alias("na")), on="id_a")
            .join(ni.select(F.col("i").alias("id_b"),
                            F.col("ni").alias("nb")), on="id_b")
            .select(
                "id_a", "id_b", "co",
                F.round(cos, 6).alias("cosine"),
            )
            .orderBy(F.desc("cosine"), "id_a", "id_b")
            .limit(int(top_n))
        )
        rows = out.collect()
    finally:
        bi.unpersist()
    return facts.sparkSession.createDataFrame(
        rows, "id_a long, id_b long, co long, cosine double"
    ).orderBy(F.desc("cosine"), "id_a", "id_b")
