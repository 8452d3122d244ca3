"""Physical-plan regression tests: the properties that make these queries
scale — pushdown, pruning, broadcast strategy, bounded shuffles — asserted
against the executed plan, so a refactor that silently loses one fails CI."""

from __future__ import annotations

import re

import pytest

from ningaloo_turtle_etl_spark import registry
from tests.conftest import SF_DIR

QUERIES = registry.queries()


def plan_of(spark, name, execute=False):
    df = QUERIES[name](spark, SF_DIR)
    if execute:
        # AQE finalizes (and annotates codegen stages) only on execution.
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_lookup_chain_broadcasts_all_dims(spark):
    plan = plan_of(spark, "lookup_chain_revenue")
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") == 0
    # Fact scan pruned to join key + measure inputs.
    first_read = re.search(r"ReadSchema: (\S+)", plan)
    assert first_read and "l_quantity" not in first_read.group(1)


def test_topk_per_group_single_shuffle(spark):
    plan = plan_of(spark, "topk_per_group")
    assert plan.count("Exchange") <= 1
    # Spark's rank-limit pushdown keeps per-group state bounded.
    assert "WindowGroupLimit" in plan


def test_slice_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "slice_topk")
    assert "TakeOrderedAndProject" in plan  # no global sort for ORDER+LIMIT


def test_filter_pushdown_on_projection_pipeline(spark):
    plan = plan_of(spark, "projection_pipeline")
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_filter_predicates_conjunctive_half_pushed_to_fact_scan(spark):
    # Formatted mode prints the full PushedFilters list (the simple string
    # elides long lists with "...").
    df = QUERIES["filter_predicates"](spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # The conjunctive chain reaches the lineitem scan; the null-disjunction
    # stays above the left join (pushing it below would change semantics).
    assert "GreaterThan(l_quantity,30" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_timestamp_pipeline_is_map_only(spark):
    plan = plan_of(spark, "timestamp_pipeline")
    assert plan.count("Exchange") == 0  # pure projection, fuses with scan


def test_asof_join_single_window_shuffle(spark):
    # union + carry-forward window: one shuffle for the window partitioning
    # plus the sparse rates-side prep — never a nested loop.
    plan = plan_of(spark, "asof_join_rates")
    assert plan.count("Exchange") <= 2
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_spatial_tag_is_map_side_only_before_agg(spark):
    plan = plan_of(spark, "spatial_tag_regions")
    # One shuffle total: the final tally. The UDF tagging itself is map-only.
    assert plan.count("Exchange") <= 2
    assert "ArrowEvalPython" in plan or "BatchEvalPython" not in plan


@pytest.mark.parametrize(
    "name", ["group_count_sorted", "summary_stats"]
)
def test_aggregations_are_codegen_hash_agg(spark, name):
    plan = plan_of(spark, name, execute=True)
    # "*(n)" prefixes mark whole-stage-codegen'd operators in the simple
    # plan format (the literal "WholeStageCodegen" only appears pre-AQE).
    assert "*(" in plan
    assert "HashAggregate" in plan and "SortAggregate" not in plan


def test_decontaminate_corpus_broadcasts_vocab_no_corpus_shuffle_join(spark):
    plan = plan_of(spark, "decontaminate_corpus")
    # eval vocabulary is the broadcast side; the corpus join never sort-merges
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # partial agg collapses exploded grams before the only corpus exchange
    assert "partial_count" in plan
    # explode_outer infers no size()>0 filter, so no Filter node re-builds
    # the gram array: every split() in the plan lives in a Project/Generate.
    for line in plan.splitlines():
        if "Filter" in line and "split(text" in line:
            raise AssertionError(f"gram expression inlined into a Filter: {line[:160]}")


def test_curation_pipeline_tokenizes_each_document_once(spark):
    # Tokens and n-grams sit behind Generate barriers, so the pushed-down
    # length/repetition gate reads attributes and never re-tokenizes; the
    # decontamination aggregate carries lang/n_chars (no join back), and the
    # mix rates read the gated corpus without a self cross-join.
    df = QUERIES["corpus_curation_pipeline"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "Filter" in line and "split(" in line:
            raise AssertionError(f"tokenizer inlined into a Filter: {line[:160]}")
    # One corpus and one benchmark tokenizer for each of the gated corpus's
    # two consumers (was 102); the same two sides scan documents 3 times
    # each: the dedup keepers, the dedup body and the benchmark (was 15).
    assert plan.count("split(") <= 4
    assert plan.count("Relation [") <= 6
    # Both consumers of the gated corpus read one decontamination shuffle.
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"ReusedExchange .*Exchange hashpartitioning\(doc_id", executed)


def test_repetition_metrics_is_map_only(spark):
    plan = plan_of(spark, "repetition_metrics")
    assert "Exchange" not in plan  # pure projection fused with the scan


def test_training_mix_sample_broadcasts_rates(spark):
    plan = plan_of(spark, "training_mix_sample")
    # rates dim joins via broadcast; the only exchanges build the tiny agg
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_redaction_is_map_only(spark):
    plan = plan_of(spark, "pii_redaction")
    assert "Exchange" not in plan


def test_quality_budget_select_no_single_partition_window(spark):
    plan = plan_of(spark, "quality_budget_select")
    # the scale hazard this operator exists to avoid: a global-order window
    # (empty partitionBy → SinglePartition exchange)
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan  # within-partition cumsum survives


def test_text_token_quality_prunes_scan_to_two_columns(spark):
    plan = plan_of(spark, "text_token_quality")
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "doc_id" in m.group(1) and "text" in m.group(1)
    assert "lang" not in m.group(1) and "source" not in m.group(1)
    assert "Exchange" not in plan  # fused map-only projection


def test_spatial_tag_regions_expr_is_pure_codegen(spark):
    """The Catalyst tagger's plan has no Python eval node and only the
    tally's single exchange."""
    plan = plan_of(spark, "spatial_tag_regions_expr")
    assert "EvalPython" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_minhash_md5_family_plan_shape(spark):
    # The pipeline must keep its scale-critical shapes: hash-joined band
    # buckets (never a nested loop / cartesian), payload-free candidate
    # generation (no shingle arrays in the banded join), and signature state
    # read from the shared persisted frame (InMemoryTableScan) rather than
    # recomputed per branch.
    from ningaloo_turtle_etl_spark.operators.cache import release_tracked_caches
    from ningaloo_turtle_etl_spark.operators.dedup import minhash_near_dup_pairs
    from ningaloo_turtle_etl_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    import pyspark.sql.functions as F

    docs = load_table(spark, "documents", SF_DIR).filter(F.col("doc_id") < 100)
    try:
        pairs = minhash_near_dup_pairs(docs, threshold=0.5)
        pairs.collect()  # materialize so the cached signature frame exists
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan
        assert "InMemoryTableScan" in plan  # shared signature state
        # Banded self-join carries only (id, bucket): the join keys section
        # must not reference the shingle array column.
        import re

        join_lines = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln]
        assert join_lines, "expected at least one hash join in the plan"
        banded = [ln for ln in join_lines if "bucket" in ln]
        assert banded and all(not re.search(r"\bsh#", ln) for ln in banded)
    finally:
        release_tracked_caches()


def test_edit_similarity_prefix_election_is_group_limited(spark):
    # The Ed-Join pairs that entity_resolution_clusters clusters, planned on
    # their own: the query's executed plan reads the connected components'
    # checkpoint, so the join's shape is only visible here.
    from ningaloo_turtle_etl_spark.operators.cache import release_tracked_caches
    from ningaloo_turtle_etl_spark.operators.relational import (
        edit_similarity_self_join,
    )
    from ningaloo_turtle_etl_spark.sources.tables import load_table

    cust = load_table(spark, "customer", SF_DIR)
    try:
        pairs = edit_similarity_self_join(
            cust, text_col="c_name", id_col="c_custkey", max_edit=1, q=3
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    finally:
        release_tracked_caches()
    # the rn <= q*k+1 prefix must push down as a map-side group limit
    # (Partial before the exchange), not a full sort per id
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan
    assert "CartesianProduct" not in plan


def test_event_sessions_single_exchange_shared_by_windows_and_rollup(spark):
    # lag + running sum + the per-session rollup must all ride ONE
    # user-keyed exchange — a second shuffle here doubles the cost of
    # sessionization at any scale.
    plan = plan_of(spark, "event_sessions")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_boilerplate_plan_shape(spark):
    """Segment explode is map-only off the scan; the (group, segment)
    count combines before its exchange; the flag join broadcasts; the only
    row-keyed shuffle is the per-doc reassembly."""
    plan = plan_of(spark, "boilerplate_removal")
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_part_pairs_no_cartesian_and_name_dim_only(spark):
    plan = plan_of(spark, "fuzzy_part_pairs")
    # blocked self-join is a hash/broadcast equi-join on the block key,
    # never a cartesian/nested-loop all-pairs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the quadratic stage reads only the name column from the part scan
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "p_name" in m.group(1)
    assert m and "p_brand" not in m.group(1)


def test_image_ahash_pairs_band_join_is_equi_join(spark):
    plan = plan_of(spark, "image_ahash_near_dups")
    # LSH candidate generation must be an equi-join on band keys — an
    # all-pairs hamming compare would be quadratic in the corpus
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bleu_rouge_clipping_is_equi_join_and_jvm_only(spark):
    plan = plan_of(spark, "bleu_rouge_by_source")
    # clipped counting joins cand and ref gram counts at (_id, n, gram)
    # grain — equi-join, no pair-vs-pair comparison, no Python
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_table_digest_single_aggregate_no_extra_exchange(spark):
    plan = plan_of(spark, "table_digest_by_flag")
    # one partial+final aggregate pair -> exactly one exchange (plus the
    # orderBy's range exchange); no join, no Python
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bitext_margin_broadcasts_and_window_limits(spark):
    plan = plan_of(spark, "bitext_margin_pairs")
    # the scoring join broadcasts the smaller side; per-side top-k uses
    # the rank-limit window (bounded per-partition state)
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_ppjoin_jaccard_pairs_prefix_equi_join_jvm_only(spark):
    plan = plan_of(spark, "ppjoin_jaccard_pairs")
    # candidates come from the prefix-token equi-join (+ length and
    # positional residual filters), never an all-pairs compare; the whole
    # pipeline is Catalyst expressions — no Python stage
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lloyd_assignment_scan_has_no_join(spark):
    """The trained Lloyd's assignment pass (the pass every
    pq_train_codebooks_lloyd / trained_ivf_pq_topk iteration runs) must be a
    MAP-SIDE scan against literal centroids: no join, and the one
    exchange carries only the merged (g, s, code) cell grid above the
    Arrow assignment stage — vectors never shuffle. Checked on the grid
    frame itself (the trainer collects it)."""
    from ningaloo_turtle_etl_spark.operators.quantize import (
        _lloyd_grid_frame,
        _micro_base,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    base = _micro_base(df, "vec_id", "embedding")
    books = [[[0, 0], [19_000_000, 0]]]  # m=1, k=2 full-vector centroids
    grid = _lloyd_grid_frame(base, [(books, 1, 2, 2)])
    plan = grid._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") == 1
    assert plan.index("Exchange") < plan.index("MapInArrow")
    assert "BatchEvalPython" not in plan
    # ids 0..9 are nearer centroid 0, 10..19 nearer centroid 1
    assert {r["code"]: r["n"] for r in grid.collect()} == {0: 10, 1: 10}


def test_symspell_pairs_key_equi_join_jvm_only(spark):
    plan = plan_of(spark, "symspell_customer_pairs")
    # candidates come from the delete-1 key EQUI-join over the distinct
    # name dimension — never an all-pairs compare, never a Python stage
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_trained_ivf_pq_serve_tiers_broadcast_no_cartesian(spark):
    """The trained loop's SERVE stages (rebuilt lazily here — the
    public operator eager-checkpoints its output, hiding the plan):
    candidate selection is a broadcast cell equi-join + broadcast LUT
    join, never a cartesian, and the whole serve path stays JVM-side."""
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators.quantize import (
        _lloyd_micro_rounds,
    )
    from ningaloo_turtle_etl_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, "embeddings", SF_DIR)
    vm = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1e6, 0).cast("long"),
    )
    base = emb.select(F.col("vec_id").alias("id"), vm.alias("vm"))
    cents = _lloyd_micro_rounds(base, 1, 4, 1, 64)[0]

    def idist(col, c):
        carr = F.array(*[F.lit(int(x)) for x in c])
        return F.aggregate(
            F.zip_with(col, carr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    cell = F.array_min(
        F.array(
            *[
                F.struct(idist(F.col("vm"), c).alias("d"), F.lit(j).alias("j"))
                for j, c in enumerate(cents)
            ]
        )
    )["j"]
    enc = base.select(F.col("id").alias("vec_id"), cell.alias("cell"))
    qcells = spark.createDataFrame(
        [(0, 0), (0, 1), (1, 0)], "query_id long, cell int"
    )
    cand = enc.join(F.broadcast(qcells), on="cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    plan = cand._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
