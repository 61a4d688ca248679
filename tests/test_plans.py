"""Physical-plan contracts: the properties that make these queries
scale-safe must hold in the optimized plan, not just in intent."""

from __future__ import annotations

from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.plans.inspect import explain_str
from aiven_challenge2_cdc_sharing_spark.queries import load_registry
from aiven_challenge2_cdc_sharing_spark.tables import load_table
from tests.references import (
    has_broadcast_join,
    has_pushed_filters,
    num_exchanges,
    scan_read_schema,
)


def test_dimension_joins_broadcast(spark, sf_dir):
    q = load_registry()["join_broadcast_region_rollup"]
    assert has_broadcast_join(q.fn(spark, sf_dir))


def test_filter_pushed_to_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    ).select("o_orderkey")
    assert has_pushed_filters(df, "GreaterThan(o_totalprice,400000")


def test_column_pruning(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    schemas = scan_read_schema(df)
    assert schemas and all(set(s) <= {"l_orderkey", "l_quantity"} for s in schemas)


def test_pricing_summary_scan_pruned_and_pushed(spark, sf_dir):
    q = load_registry()["agg_pricing_summary"]
    df = q.fn(spark, sf_dir)
    schemas = scan_read_schema(df)
    # 11-column table, 8 needed
    assert schemas and all(len(s) <= 8 for s in schemas)
    assert has_pushed_filters(df, "LessThanOrEqual(l_shipdate")


def test_topk_uses_take_ordered(spark, sf_dir):
    q = load_registry()["dash_recent_orders"]
    assert "TakeOrderedAndProject" in explain_str(q.fn(spark, sf_dir))


def test_topk_per_group_limits_below_shuffle(spark, sf_dir):
    q = load_registry()["win_top3_orders_per_segment"]
    # Spark 3.5+/4.x plans a WindowGroupLimit before the final window sort
    assert "WindowGroupLimit" in explain_str(q.fn(spark, sf_dir))


def test_range_join_is_broadcast_not_cartesian(spark, sf_dir):
    q = load_registry()["join_range_value_bands"]
    s = explain_str(q.fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in s
    assert "CartesianProduct" not in s


def test_semi_and_anti_join_plans(spark, sf_dir):
    reg = load_registry()
    assert "LeftSemi" in explain_str(reg["join_semi_active_customers"].fn(spark, sf_dir))
    assert "LeftAnti" in explain_str(reg["join_anti_dormant_customers"].fn(spark, sf_dir))


def test_cdc_snapshot_single_shuffle(spark, sf_dir):
    q = load_registry()["cdc_snapshot"]
    # generator union + unwrap + one window: exactly one exchange per
    # union branch feeding the single row_number shuffle
    assert num_exchanges(q.fn(spark, sf_dir)) <= 4


def test_rolling_actives_broadcasts_spine(spark, sf_dir):
    """The rolling-distinct window rewrite must broadcast the tiny day
    spine (its join is a range predicate — broadcast NLJ is correct;
    a shuffled cartesian would not be)."""
    q = load_registry()["dash_rolling_7d_active_users"]
    plan = explain_str(q.fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ts_profile_similarity_broadcasts_probes(spark, sf_dir):
    q = load_registry()["ts_user_profile_similarity"]
    assert has_broadcast_join(q.fn(spark, sf_dir))


def test_heavy_hitters_python_confined_to_sketch(spark, sf_dir):
    """Python appears ONLY in the pass-1 MG sketch (MapInPandas); the
    exact-count pass and threshold join stay JVM-side."""
    import re

    q = load_registry()["text_heavy_hitter_tokens"]
    plan = explain_str(q.fn(spark, sf_dir))
    # formatted plans print each node twice (tree + detail) — count
    # distinct operator instances via the "(<id>) MapInPandas" headers
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_perplexity_scans_documents_once(spark, sf_dir):
    """The localCheckpoint'ed token table means documents parquet is
    scanned exactly once across the LM build and scoring."""
    q = load_registry()["text_perplexity_filter"]
    plan = explain_str(q.fn(spark, sf_dir))
    assert plan.count("documents.parquet") <= 1, plan


def test_ivf_assignment_is_map_only(spark, sf_dir):
    """Nearest-centroid assignment folds the centroids into ONE
    broadcast row and takes an array_max argmin per vector — the plan
    must show no Window (old shape: row_number over a k*N scored
    join) and no vector-side exchange; the only exchange allowed is
    the 16-row centroid fold itself."""
    from aiven_challenge2_cdc_sharing_spark.operators.similarity import (
        _assign_nearest,
        train_ivf_centroids,
    )

    vectors = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(vectors).localCheckpoint(eager=True)
    df = _assign_nearest(
        vectors.select("vec_id", "embedding"), cents, "embedding", "__cluster"
    )
    s = explain_str(df)
    assert "Window" not in s, s
    assert has_broadcast_join(df)
    assert num_exchanges(df) <= 2, s


def test_simhash_single_pass_expression(spark, sf_dir):
    """The SimHash signature must stay a single aggregate pass over the
    token-hash array (vote-counter array + sign fold).  The per-bit
    formulation leaked 60 `aggregate(` scans into the plan and fell
    out of whole-stage codegen (~10x slower)."""
    from aiven_challenge2_cdc_sharing_spark.operators.dedup import simhash_md5

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    s = explain_str(simhash_md5(docs, "text"))
    assert s.count("aggregate(") <= 8, s.count("aggregate(")


def test_semantic_dedup_no_cartesian_single_cluster_shuffle(spark, sf_dir):
    # the pair join must be an equi-join on the cluster id (sum(c^2)
    # volume), never a cartesian/BNLJ over the vectors
    q = load_registry()["dedup_semantic_pairs"]
    s = explain_str(q.fn(spark, sf_dir))
    assert "CartesianProduct" not in s
    # the assignment is checkpointed and consumed by both join sides,
    # so NO nested-loop join survives in the pair-join plan at all
    assert "BroadcastNestedLoopJoin" not in s
    # any EQUI join on the cluster id is fine (AQE picks broadcast at
    # test scale, sort-merge at cluster scale)
    assert (
        "SortMergeJoin" in s
        or "ShuffledHashJoin" in s
        or "BroadcastHashJoin" in s
    )


def test_hybrid_rrf_fusion_joins_are_small(spark, sf_dir):
    # both legs end in top-N; the fusion join must not shuffle the
    # full corpus — the semantic leg broadcasts the single query vector
    q = load_registry()["search_hybrid_rrf"]
    s = explain_str(q.fn(spark, sf_dir))
    assert "CartesianProduct" not in s
    assert "TakeOrderedAndProject" in s  # final top-20


def test_hll_partial_merge_is_two_level_agg(spark, sf_dir):
    # shard partials then union-merge: two HashAggregate pairs, and the
    # sketch column (binary) must never appear in a scan (it is derived)
    q = load_registry()["agg_hll_sketch_partial_merge"]
    s = explain_str(q.fn(spark, sf_dir))
    assert s.count("HashAggregate") >= 4  # partial+final for each level
    assert "SortAggregate" not in s


def test_feature_hashing_scans_two_columns_once(spark, sf_dir):
    q = load_registry()["ml_feature_hashing"]
    df = q.fn(spark, sf_dir)
    schemas = scan_read_schema(df)
    assert len(schemas) == 1, "documents must be scanned exactly once"
    assert set(schemas[0]) <= {"doc_id", "text"}


def test_gopher_filter_is_scan_speed(spark, sf_dir):
    # pure per-row expression work: no exchange at all in the plan
    q = load_registry()["text_gopher_quality_filter"]
    s = explain_str(q.fn(spark, sf_dir))
    assert "Exchange" not in s


def test_try_suite_stays_in_codegen(spark, sf_dir):
    # NULL-on-error functions must not break whole-stage codegen or
    # add any exchange — the whole point is scan-speed safety
    q = load_registry()["fn_try_suite"]
    s = explain_str(q.fn(spark, sf_dir))
    assert "Exchange" not in s
    # formatted plans flag codegen'd nodes with a "*" prefix
    assert "* Project" in s


def test_regr_aggs_are_single_grouped_aggregate(spark, sf_dir):
    # all six regression moments ride ONE partial+final aggregate pair
    q = load_registry()["agg_regr_value_by_hour"]
    s = explain_str(q.fn(spark, sf_dir))
    assert s.count("Exchange") <= 2  # one agg exchange (+AQE read)
    assert "SortAggregate" not in s


def test_path_mining_single_key_shuffle_plus_topk(spark, sf_dir):
    q = load_registry()["dash_top_event_paths"]
    s = explain_str(q.fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in s  # top-10, never a global sort
    assert "CartesianProduct" not in s


def test_lateral_decorrelates_to_window_topk(spark, sf_dir):
    # the correlated LATERAL subquery must NOT execute per-row: the
    # plan is the same window/group-limit shape as the DataFrame form
    q = load_registry()["join_lateral_top2_orders"]
    s = explain_str(q.fn(spark, sf_dir))
    assert "CartesianProduct" not in s
    assert "WindowGroupLimit" in s or "Window" in s
