"""Apriori frequent pairs + association rules (operators/basket.py)."""

from __future__ import annotations

import pytest

from ningaloo_turtle_etl_spark.operators.basket import (
    association_rules,
    frequent_pairs,
)
from ningaloo_turtle_etl_spark.registry import oracle_sql, queries
from tests.conftest import SF_DIR, assert_df_matches_oracle


@pytest.fixture(scope="module")
def facts(spark):
    # baskets: 1:{a,b,c} 2:{a,b} 3:{a,b} 4:{c,d} 5:{a} — (a,b) support 3,
    # (a,c)/(b,c)/(c,d) support 1; duplicate fact rows must not inflate.
    rows = [
        (1, "a"), (1, "b"), (1, "c"), (1, "a"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"),
        (4, "c"), (4, "d"),
        (5, "a"),
    ]
    return spark.createDataFrame(rows, "bk int, it string")


def test_frequent_pairs_supports(spark, facts):
    got = {
        (r["item_a"], r["item_b"]): r["pair_support"]
        for r in frequent_pairs(facts, "bk", "it", min_support=2).collect()
    }
    assert got == {("a", "b"): 3}
    # lowering the threshold surfaces the support-1 pairs among frequent
    # items only (d has item support 1 and is Apriori-pruned at
    # min_item_support=2 even when min_support=1)
    loose = {
        (r["item_a"], r["item_b"]): r["pair_support"]
        for r in frequent_pairs(
            facts, "bk", "it", min_support=1, min_item_support=2
        ).collect()
    }
    assert loose == {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 1}


def test_association_rules_metrics(spark, facts):
    rules = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(facts, "bk", "it", min_support=2).collect()
    }
    assert set(rules) == {("a", "b"), ("b", "a")}
    ab, ba = rules[("a", "b")], rules[("b", "a")]
    # supports: a in 4 baskets, b in 3, both in 3, 5 baskets total
    assert ab["pair_support"] == 3
    assert ab["antecedent_support"] == 4 and ab["consequent_support"] == 3
    assert ab["support"] == pytest.approx(3 / 5)
    assert ab["confidence"] == pytest.approx(3 / 4)
    assert ab["lift"] == pytest.approx((3 / 4) / (3 / 5))
    assert ba["confidence"] == pytest.approx(1.0)  # every b basket has a
    assert ba["lift"] == pytest.approx(1.0 / (4 / 5))


def test_max_basket_items_cap(spark):
    # one mega-basket above the cap contributes no pairs; the small basket
    # still does.
    rows = [(1, f"i{k}") for k in range(5)] + [(2, "i0"), (2, "i1")]
    df = spark.createDataFrame(rows, "bk int, it string")
    got = {
        (r["item_a"], r["item_b"]): r["pair_support"]
        for r in frequent_pairs(
            df, "bk", "it", min_support=1, min_item_support=1,
            max_basket_items=4,
        ).collect()
    }
    assert got == {("i0", "i1"): 1}


def test_assoc_rules_query_matches_oracle(spark, duck):
    qs, os_ = queries(), oracle_sql()
    assert_df_matches_oracle(
        qs["assoc_rules_copurchase"](spark, SF_DIR),
        duck,
        os_["assoc_rules_copurchase"],
    )


def test_item_cosine_pairs_hand_case(spark):
    """cos = co/sqrt(na*nb) on binary incidence: a pair in every shared
    basket scores 1.0; min_co drops single-co pairs; ranking is
    deterministic on (rounded cosine, ids)."""
    import math

    import pytest

    from ningaloo_turtle_etl_spark.operators.basket import (
        item_cosine_pairs,
    )

    rows = [
        (1, 10), (1, 11),
        (2, 10), (2, 11),
        (3, 10), (3, 12),
        (4, 10), (4, 12),
        (5, 12), (5, 13),   # (12,13) co=1 -> dropped at min_co=2
    ]
    df = spark.createDataFrame(rows, "bk long, it long")
    out = {
        (r["id_a"], r["id_b"]): r
        for r in item_cosine_pairs(df, "bk", "it", min_co=2).collect()
    }
    # 10 in 4 baskets, 11 in 2, co(10,11)=2 -> 2/sqrt(8)
    assert out[(10, 11)]["cosine"] == round(2 / math.sqrt(8), 6)
    assert out[(10, 12)]["co"] == 2
    assert (12, 13) not in out
    with pytest.raises(ValueError):
        item_cosine_pairs(df, "bk", "it", min_co=0)
