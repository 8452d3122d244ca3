"""Connected-components tests on planted graphs."""

from __future__ import annotations

import pytest

from ningaloo_turtle_etl_spark.operators.graph import connected_components


def test_chain_star_and_separate_components(spark):
    # chain 1-2-3-4 (diameter test), star 10-{11,12,13}, pair 20-21.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert {comp[i] for i in (1, 2, 3, 4)} == {1}
    assert {comp[i] for i in (10, 11, 12, 13)} == {10}
    assert {comp[i] for i in (20, 21)} == {20}


def test_long_chain_converges_within_log_rounds(spark):
    # 40-node chain, the worst case for label propagation: pointer jumping
    # must cover it in O(log n) rounds, well inside the default budget.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert set(comp.values()) == {0}


def test_nonconvergence_raises(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(pairs, max_iterations=2)


def test_entity_resolution_composition_blocks_and_elects(spark):
    """edit-distance blocking → CC → canonical election on a toy roster:
    near-identical names cluster, the min-id member is the representative,
    and unmatched singletons stay out."""
    from ningaloo_turtle_etl_spark.operators.graph import connected_components
    from ningaloo_turtle_etl_spark.operators.relational import (
        edit_similarity_self_join,
    )

    rows = [
        (1, "Customer#000000001"),
        (2, "Customer#000000002"),  # dist 1 from #1 and #3
        (3, "Customer#000000003"),
        (10, "Zebra Industries"),   # singleton
        (20, "Acme Corp"),
        (21, "Acme Corq"),          # dist 1 from 20
    ]
    df = spark.createDataFrame(rows, "id bigint, name string")
    pairs = edit_similarity_self_join(
        df, text_col="name", id_col="id", max_edit=1, q=3
    )
    comp = connected_components(pairs)
    clusters: dict = {}
    for r in comp.collect():
        clusters.setdefault(r["component"], set()).add(r["id"])
    assert clusters == {1: {1, 2, 3}, 20: {20, 21}}
