"""Physical-plan quality gates (SURVEY §4): the scale properties the
engine relies on must be visible in the optimized plans, not assumed."""

from __future__ import annotations

import re

import sys
from pathlib import Path

from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from insight_patents_spark.plans.explain import (  # noqa: E402
    assert_in_plan,
    formatted_plan,
)
from insight_patents_spark.session import conf_scope  # noqa: E402
from insight_patents_spark.sources.tables import load  # noqa: E402


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000).select(
        "o_orderkey"
    )
    plan = formatted_plan(df)
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,100000.0)" in plan


def test_column_pruning_in_readschema(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = formatted_plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_dim_join_is_broadcast(spark, sf_dir):
    from insight_patents_spark.operators.joins import join_broadcast

    assert_in_plan(join_broadcast(spark, sf_dir), "BroadcastHashJoin")


def test_topk_uses_take_ordered(spark, sf_dir):
    from insight_patents_spark.operators.setops import limit_topk

    assert_in_plan(limit_topk(spark, sf_dir), "TakeOrderedAndProject")


def test_groupby_has_partial_aggregation(spark, sf_dir):
    from insight_patents_spark.operators.aggregates import agg_groupby

    plan = formatted_plan(agg_groupby(spark, sf_dir))
    # map-side partial + final hash aggregate = two HashAggregate nodes
    assert plan.count("HashAggregate") >= 2


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    from insight_patents_spark.operators.windows import topk_per_group

    assert_in_plan(topk_per_group(spark, sf_dir), "WindowGroupLimit")


def test_partition_pruning_on_partitioned_sink(spark, sf_dir):
    from insight_patents_spark.operators.relational import sink_parquet

    plan = formatted_plan(sink_parquet(spark, sf_dir))
    assert "PartitionFilters: [" in plan
    pruned = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "o_orderstatus" in pruned


def test_vectorized_scan_and_partial_agg(spark, sf_dir):
    # AQE wraps the plan before execution so WholeStageCodegen spans are
    # not printed; the equivalent checkable properties are the vectorized
    # (batched) parquet scan and map-side partial aggregation.
    from insight_patents_spark.operators.aggregates import agg_groupby

    plan = formatted_plan(agg_groupby(spark, sf_dir))
    assert "Batched: true" in plan
    assert "partial_sum" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    from insight_patents_spark.operators.joins import join_bucketed

    plan = formatted_plan(join_bucketed(spark, sf_dir))
    assert plan.count("Bucketed: true") == 2
    assert "SortMergeJoin" in plan
    # the only exchange is the final small-key aggregation — the join
    # itself reads co-located buckets and shuffles nothing
    import re

    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1


def test_salted_join_spreads_hot_key(spark, sf_dir):
    from insight_patents_spark.operators.joins import join_skew_salted

    plan = formatted_plan(join_skew_salted(spark, sf_dir))
    # join key is the composite (hot_key, salt) — the hot key cannot pin
    # a single reducer
    assert "hot_key" in plan and "salt" in plan


def test_correlated_exists_decorrelates_to_joins(spark, sf_dir):
    from insight_patents_spark.operators.relational import sql_exists_correlated

    plan = formatted_plan(sql_exists_correlated(spark, sf_dir))
    # RewritePredicateSubquery: EXISTS -> semi join, NOT EXISTS -> anti
    # join; no per-row subquery execution anywhere in the plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "Subquery" not in plan


def test_stratified_sample_is_narrow_and_pushes_scan(spark, sf_dir):
    # deterministic sampling must stay a narrow filter: no Exchange at all
    from insight_patents_spark.operators.relational import sample_stratified

    plan = formatted_plan(sample_stratified(spark, sf_dir))
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_context_chunk_has_no_shuffle(spark, sf_dir):
    from insight_patents_spark.operators.text import text_context_chunk

    assert "Exchange" not in formatted_plan(text_context_chunk(spark, sf_dir))


def test_cosine_topk_scores_in_one_arrow_pass_after_one_fan_out(spark, sf_dir):
    """The label-blocked scoring is one Arrow kernel over the probe rows
    (the candidates ride a SparkContext broadcast, outside the plan): no
    pair join of any kind, and the probe side's explicit fan-out
    repartition is the only Exchange."""
    from insight_patents_spark.operators.vector import vec_cosine_topk

    plan = formatted_plan(vec_cosine_topk(spark, sf_dir))
    assert "ArrowEvalPython" in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1


def test_link_predict_degree_joins_are_broadcast(spark, sf_dir):
    from insight_patents_spark.operators.graph import graph_link_predict

    plan = formatted_plan(graph_link_predict(spark, sf_dir))
    assert "SortMergeJoin" not in plan


def test_join_dpp_has_dynamic_pruning(spark, sf_dir):
    """The partitioned-fact x filtered-dim join must prune fact partitions
    via a dynamic pruning subquery (no static predicate names them)."""
    from insight_patents_spark.operators.relational import join_dpp

    df = join_dpp(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_time_rollup_scans_events_once(spark, sf_dir):
    """Continuous-aggregate property: the three-level rollup must read the
    raw events parquet exactly once — every coarser level re-aggregates
    the finer level's partials, never the source."""
    from insight_patents_spark.operators.aggregates import time_rollup_hier

    plan = formatted_plan(time_rollup_hier(spark, sf_dir))
    assert plan.count("events.parquet") == 1


def test_zorder_sorts_within_range_partitions(spark, sf_dir):
    """The z-layout write must be a range repartition + in-partition sort
    on the interleaved key (what gives files disjoint z-ranges)."""
    from insight_patents_spark.operators.relational import sink_zorder

    df = sink_zorder(spark, sf_dir)  # also materializes the layout
    # gate the WRITE plan shape via a fresh logical copy of the sorted frame
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    o = load(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 256).cast("bigint")
    zdf = o.select("o_orderkey", x.alias("zval"))
    plan = formatted_plan(
        zdf.repartitionByRange(16, "zval").sortWithinPartitions("zval")
    )
    assert "rangepartitioning(zval" in plan
    assert "Sort" in plan
    # and the produced result itself must exist with the 16 coarse buckets
    assert df.count() == 16


def test_dedup_substring_candidates_are_equi_join(spark, sf_dir):
    """The containment candidate stage must be a signature equi-join
    (sort-merge/hash), never a cartesian/nested-loop over doc pairs."""
    from insight_patents_spark.operators.text import dedup_substring

    plan = formatted_plan(dedup_substring(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rerank_stub_pandas_stage_sees_only_shortlist(spark, sf_dir):
    """The mapInPandas scorer must sit above the top-k window (shortlist
    input), not above the raw pair join."""
    from insight_patents_spark.operators.vector import vec_rerank_stub

    plan = formatted_plan(vec_rerank_stub(spark, sf_dir))
    assert "MapInPandas" in plan
    # shortlist filter (rn <= 3) happens below the pandas stage: a
    # window-limit node must appear after MapInPandas in the top-down
    # formatted text (i.e. beneath it in the tree)
    assert "WindowGroupLimit" in plan[plan.index("MapInPandas"):]


def test_derived_lsh_planes_match_sql_twin(duck):
    """_derived_planes (Python bit_length) and _planes_sql (DuckDB
    length(bin(x))) must agree for any table size, including the clamp
    edges and exact powers of two."""
    from insight_patents_spark.operators.vector import (
        _derived_planes,
        _planes_sql,
    )

    for n in [1, 2, 127, 128, 129, 8191, 8192, 8193, 15000, 16384, 16385,
              1 << 20, (1 << 20) + 1, 100_000_000, 1 << 33]:
        for occ, lo, hi in ((128, 8, 24), (512, 6, 20)):
            py = _derived_planes(n, occ, lo, hi)
            # same expression the oracles embed, with COUNT(*) pinned to
            # n (generating an n-row range for huge n is pointless)
            sql = duck.execute(
                "SELECT "
                + _planes_sql(occ, lo, hi).replace("COUNT(*)", f"CAST({n} AS BIGINT)")
            ).fetchone()[0]
            assert py == sql, (n, occ, py, sql)


def test_graph_edge_partitions_scale_with_input(spark):
    from insight_patents_spark.operators.graph import _edge_partitions

    p = spark.sparkContext.defaultParallelism
    assert _edge_partitions(spark, 60_000) == 4          # small stays small
    assert _edge_partitions(spark, 600_000) == 4         # sf0.1 unchanged
    assert _edge_partitions(spark, 60_000_000) == 2 * p  # 100x scales up
    assert _edge_partitions(spark, 10_000_000) == min(2 * p, 40)


def test_mips_scoring_join_is_broadcast(spark, sf_dir):
    # the item table must never shuffle: queries ride a broadcast
    from insight_patents_spark.operators.vector import vec_mips

    plan = formatted_plan(vec_mips(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_split_train_test_is_narrow(spark, sf_dir):
    from insight_patents_spark.operators.relational import split_train_test

    plan = formatted_plan(split_train_test(spark, sf_dir))
    assert "Exchange" not in plan  # pure projection: no shuffle anywhere


def test_frame_sample_has_no_shuffle(spark, sf_dir):
    from insight_patents_spark.operators.multimodal import mm_frame_sample

    plan = formatted_plan(mm_frame_sample(spark, sf_dir))
    assert "Exchange" not in plan  # fan-out stays inside the Arrow batch


def test_repetition_is_one_fan_out_and_one_pandas_map(spark, sf_dir):
    """text_repetition counts each document's bigrams inside one
    mapInPandas pass over the fanned-out documents: the repartition is
    the only Exchange (no bigram-keyed aggregation shuffle)."""
    from insight_patents_spark.operators.text import text_repetition

    plan = formatted_plan(text_repetition(spark, sf_dir))
    assert "MapInPandas" in plan
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1


def test_ewma_uses_single_window_pass(spark, sf_dir):
    from insight_patents_spark.operators.windows import win_ewma

    import re

    plan = formatted_plan(win_ewma(spark, sf_dir))
    # all 16 lag terms collapse into ONE WindowExec (same window spec);
    # match the detail-section operator headers, not the tree rendering
    assert len(re.findall(r"^\(\d+\) Window$", plan, re.M)) == 1
    assert plan.count("Exchange") <= 2  # the one user_id shuffle (tree+detail)


def test_lsh_bucket_table_is_materialized_once(spark, sf_dir):
    """r4 gate for the r3 hot spot: the LSH bucket assignment (Arrow
    numpy UDF) must NOT appear in the candidate-join plan — both sides
    of the join and the re-rank must read the one cached bucket table
    (InMemoryTableScan), never re-derive the plane dots."""
    from insight_patents_spark.operators.vector import (
        vec_ann_lsh,
        vec_ann_lsh_cp,
        vec_ann_lsh_multi,
    )

    for fn in (vec_ann_lsh, vec_ann_lsh_multi, vec_ann_lsh_cp):
        plan = formatted_plan(fn(spark, sf_dir))
        assert "InMemoryTableScan" in plan, fn.__name__
        # the bucket UDF ran once at materialization time; in the plan it
        # may appear ONLY inside an InMemoryRelation's cached-plan
        # description, never in the executed region above the first cache
        executed = plan[: plan.index("InMemoryRelation")]
        assert "ArrowEvalPython" not in executed, fn.__name__
        assert "BatchEvalPython" not in executed, fn.__name__


def test_rerank_consumes_cached_shortlist(spark, sf_dir):
    """vec_rerank_stub must feed its pandas scorer from the materialized
    ANN shortlist (cache scan), not recompute the LSH stage: below the
    MapInPandas node there is only an InMemoryTableScan — no joins, no
    windows, no bucket computation."""
    from insight_patents_spark.operators.vector import vec_rerank_stub

    plan = formatted_plan(vec_rerank_stub(spark, sf_dir))
    below = plan[plan.index("MapInPandas"):]
    assert "InMemoryTableScan" in below
    # between the pandas scorer and the cached shortlist there must be
    # nothing but the cache scan (joins/windows of the ANN stage live
    # inside the InMemoryRelation description, where they are not
    # re-executed)
    executed_below = below[: below.index("InMemoryRelation")]
    for node in ("HashJoin", "SortMergeJoin", "ArrowEvalPython", "Window"):
        assert node not in executed_below, node


def test_decontaminate_benchmark_side_broadcasts(spark, sf_dir):
    """The benchmark gram set must ride a broadcast; the training corpus
    must never shuffle on the gram key."""
    from insight_patents_spark.operators.text import text_decontaminate

    plan = formatted_plan(text_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_perplexity_freq_table_broadcasts(spark, sf_dir):
    from insight_patents_spark.operators.text import text_perplexity_proxy

    plan = formatted_plan(text_perplexity_proxy(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sample_priority_gets_window_group_limit(spark, sf_dir):
    """Each task must keep only k rows before the shuffle (the property
    that makes hash-priority sampling constant-cost at any scale)."""
    from insight_patents_spark.operators.relational import sample_priority

    plan = formatted_plan(sample_priority(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_range_bucketed_join_is_equi_hash(spark, sf_dir):
    """The bucketed range join must plan as a hash join on the composite
    equi key — no nested-loop / cartesian fallback for the range part."""
    from insight_patents_spark.operators.joins import join_range_bucketed

    plan = formatted_plan(join_range_bucketed(spark, sf_dir))
    assert "HashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ohlc_is_single_hash_aggregate(spark, sf_dir):
    # open/close via min_by/max_by must ride the SAME hash agg as
    # high/low/volume: exactly one agg (partial+final pair), no Window.
    from insight_patents_spark.operators.aggregates import agg_ohlc

    plan = formatted_plan(agg_ohlc(spark, sf_dir))
    assert "Window" not in plan
    # one (day,type) shuffle (formatted plans list each node twice:
    # tree line + "(n) Exchange" detail header)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1


def test_gini_has_no_cross_join(spark, sf_dir):
    # Rank formula, not the O(n^2) pairwise |xi-xj| formulation.
    from insight_patents_spark.operators.aggregates import agg_gini

    plan = formatted_plan(agg_gini(spark, sf_dir))
    assert "CartesianProduct" not in plan and "Join" not in plan


def test_anomaly_zscore_single_window_pass(spark, sf_dir):
    # n/s1/s2 share one frame spec -> one WindowExec evaluates all three.
    from insight_patents_spark.operators.windows import win_anomaly_zscore

    plan = formatted_plan(win_anomaly_zscore(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Window$", plan, re.M)) == 1


def test_sample_weighted_gets_window_group_limit(spark, sf_dir):
    # Per-group top-k must prune to k rows per task pre-shuffle.
    from insight_patents_spark.operators.relational import sample_weighted

    assert_in_plan(sample_weighted(spark, sf_dir), "WindowGroupLimit")


def test_matryoshka_stages_are_broadcast_blocked(spark, sf_dir):
    # Both candidate and rerank joins stay label-blocked broadcast joins
    # (the shared vec_* cell shape); no sort-merge fallback.
    from insight_patents_spark.operators.vector import vec_matryoshka

    plan = formatted_plan(vec_matryoshka(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hamming_prescreen_before_dot(spark, sf_dir):
    # The bit_count prescreen must sit in the join condition / filter so
    # the float dot only runs on survivors; join stays broadcast.
    from insight_patents_spark.operators.vector import vec_hamming_sign

    plan = formatted_plan(vec_hamming_sign(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "bit_count" in plan


def test_kmeans_assignment_is_broadcast(spark, sf_dir):
    # Both assignment passes join vectors x centroids via broadcast of
    # the k x 64 centroid table — the big side must never shuffle for
    # assignment (only the centroid update moves (cluster,dim) partials).
    from insight_patents_spark.operators.vector import vec_kmeans

    plan = formatted_plan(vec_kmeans(spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") + plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_cdc_chunk_has_no_shuffle(spark, sf_dir):
    # Chunking is per-row (sequence -> filter -> posexplode): the only
    # Exchange allowed is the explicit fan-out repartition of the
    # single-split input, nothing downstream.
    from insight_patents_spark.operators.text import text_cdc_chunk

    plan = formatted_plan(text_cdc_chunk(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 1
    assert "Generate" in plan  # the posexplode fan-out


def test_rolling_corr_reuses_one_sort(spark, sf_dir):
    # lag pass and frame-sum pass share (event_type, ts) order -> one Sort.
    from insight_patents_spark.operators.windows import win_rolling_corr

    plan = formatted_plan(win_rolling_corr(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Sort$", plan, re.M)) == 1


def test_keyword_topk_df_broadcast_and_group_limit(spark, sf_dir):
    from insight_patents_spark.operators.text import text_keyword_topk

    plan = formatted_plan(text_keyword_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_pq_adc_items_never_shuffle_for_join(spark, sf_dir):
    # The query side (with its lookup tables) broadcasts; the coded item
    # table must not sort-merge.
    from insight_patents_spark.operators.vector import vec_pq_adc

    plan = formatted_plan(vec_pq_adc(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_drawdown_shares_one_sort(spark, sf_dir):
    # Running-peak pass and argmax pass share (event_type, ts)-compatible
    # sorts; the argmax gets WindowGroupLimit.
    from insight_patents_spark.operators.windows import win_drawdown

    plan = formatted_plan(win_drawdown(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_hll_intersect_pair_join_is_broadcast(spark, sf_dir):
    # 5 sketch rows pair-join via broadcast; sketches are the only
    # aggregate payload (ObjectHashAggregate carries them).
    from insight_patents_spark.operators.aggregates import agg_hll_intersect

    plan = formatted_plan(agg_hll_intersect(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "ObjectHashAggregate" in plan


def test_heavy_hitters_sample_pass_is_take_ordered(spark, sf_dir):
    # Candidate stage must be TakeOrderedAndProject (global top-k without
    # a global sort); the verify pass joins the broadcast candidate list.
    from insight_patents_spark.operators.aggregates import agg_heavy_hitters

    plan = formatted_plan(agg_heavy_hitters(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_backtest_folds_spec_broadcasts(spark, sf_dir):
    # The 4-row fold-spec table must broadcast; the fact side fans out x4
    # with no shuffle before the final aggregate.
    from insight_patents_spark.operators.relational import split_backtest_folds

    plan = formatted_plan(split_backtest_folds(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_filter_broadcasts(spark, sf_dir):
    # The 128-word filter and the history digest set must both broadcast;
    # the batch side never shuffles.
    from insight_patents_spark.operators.text import dedup_bloom_prefilter

    plan = formatted_plan(dedup_bloom_prefilter(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_reaches_probe_scan(spark, sf_dir):
    # Under the operator's forced confs the probe-side condition must
    # carry might_contain(bloom subquery) — rebuilt here because the
    # operator restores session confs before returning (a leaked
    # autoBroadcastJoinThreshold=-1 would poison every later query).
    from insight_patents_spark.sources.tables import load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with conf_scope(spark, confs):
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
        o = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = formatted_plan(j)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan


def test_bitmap_distinct_has_partial_bitor(spark, sf_dir):
    # Both aggregation levels must show map-side partials (bit_or and
    # the popcount sum both combine) — the mergeability the op claims.
    from insight_patents_spark.operators.aggregates import agg_bitmap_distinct

    plan = formatted_plan(agg_bitmap_distinct(spark, sf_dir))
    assert plan.count("HashAggregate") >= 4  # 2 levels x (partial+final)


def test_lttb_avg_tables_broadcast(spark, sf_dir):
    # The per-bucket average/bounds tables (20 rows per series) must all
    # broadcast; the tick table never sort-merge joins.
    from insight_patents_spark.operators.aggregates import time_downsample_lttb

    plan = formatted_plan(time_downsample_lttb(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shuffle_hash_hint_pins_strategy(spark, sf_dir):
    from insight_patents_spark.operators.joins import join_shuffle_hash

    plan = formatted_plan(join_shuffle_hash(spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cdc_pair_join_is_equi(spark, sf_dir):
    # Cross-doc chunk sharing must join on digest equality (hash/merge
    # join), never a nested-loop over document pairs.
    from insight_patents_spark.operators.text import dedup_cdc_chunks

    plan = formatted_plan(dedup_cdc_chunks(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_residual_pq_is_broadcast_plus_projection(spark, sf_dir):
    # Centroids broadcast; residual + encode are narrow projections —
    # the only shuffles are the centroid build and the final aggregate.
    from insight_patents_spark.operators.vector import vec_residual_pq

    plan = formatted_plan(vec_residual_pq(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_star_schema_fact_never_shuffles(spark, sf_dir):
    # All four dimension hops must be broadcast joins; the fact side has
    # no Exchange below the final aggregate.
    from insight_patents_spark.operators.joins import join_star_schema

    plan = formatted_plan(join_star_schema(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_interval_merge_shares_one_user_sort(spark, sf_dir):
    # Island-flag pass and island-id pass both order by (user, s,
    # event_id) -> Catalyst must plan ONE Sort (plus at most one for the
    # exchange); a second full sort means the windows diverged.
    from insight_patents_spark.operators.sequences import time_interval_merge

    plan = formatted_plan(time_interval_merge(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Sort$", plan, re.M)) == 1


def test_markov_normalizing_window_is_post_agg(spark, sf_dir):
    # The prob-normalizing window must sit ABOVE the aggregate (<=25
    # rows), not over the fact: exactly one HashAggregate pair below the
    # Window in the plan ordering, and the window's child is the agg.
    from insight_patents_spark.operators.sequences import seq_markov_chain

    plan = formatted_plan(seq_markov_chain(spark, sf_dir))
    assert "WindowGroupLimit" not in plan
    # formatted plans list operators leaves-first: the lag Window over
    # events comes first, then the partial/final aggregate, then the
    # tiny normalizing Window.
    idx_aggs = [m.start() for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert len(idx_wins) == 2 and len(idx_aggs) >= 2
    assert idx_wins[0] < idx_aggs[0] < idx_wins[1]


def test_topk_paths_is_take_ordered(spark, sf_dir):
    from insight_patents_spark.operators.sequences import seq_topk_paths

    plan = formatted_plan(seq_topk_paths(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_seasonal_index_aggregates_before_window(spark, sf_dir):
    # Partial aggregation must collapse the fact before the normalizing
    # window: HashAggregate (partial+final) precede the single Window.
    from insight_patents_spark.operators.sequences import time_seasonal_index

    plan = formatted_plan(time_seasonal_index(spark, sf_dir))
    idx_aggs = [m.start() for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert len(idx_wins) == 1 and len(idx_aggs) >= 2
    assert max(idx_aggs) < idx_wins[0]


def test_holt_forecast_single_window_pass(spark, sf_dir):
    # All 12 lag taps share one window spec -> exactly one WindowExec
    # and one Sort; a second means Spark split the kernel.
    from insight_patents_spark.operators.windows import win_holt_forecast

    plan = formatted_plan(win_holt_forecast(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Window$", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Sort$", plan, re.M)) == 1


def test_time_to_convert_has_no_self_join(spark, sf_dir):
    # first-view via window MIN, not an events-to-events join: the plan
    # must contain no join at all.
    from insight_patents_spark.operators.sequences import funnel_time_to_convert

    plan = formatted_plan(funnel_time_to_convert(spark, sf_dir))
    assert "Join" not in plan


def test_modularity_endpoint_joins_broadcast(spark, sf_dir):
    # Both label-endpoint joins and the 2m scalar must broadcast: no
    # sort-merge join anywhere in the plan.
    from insight_patents_spark.operators.graph import graph_modularity

    plan = formatted_plan(graph_modularity(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_cell_refine_items_never_shuffle_for_join(spark, sf_dir):
    # Coarse assignment and sub-seed assignment must both be broadcast
    # joins against the item table; items shuffle only for the window
    # argmin, never for a join.
    from insight_patents_spark.operators.vector import vec_cell_refine

    plan = formatted_plan(vec_cell_refine(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_bm25_df_and_stats_broadcast(spark, sf_dir):
    # df (<=3 rows) and corpus stats (1 row) must broadcast; the token
    # stream must never sort-merge.
    from insight_patents_spark.operators.text import text_bm25

    plan = formatted_plan(text_bm25(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_cohort_ltv_grid_window_is_post_agg(spark, sf_dir):
    # The cumulative window must run over the (cohort, age) grid, i.e.
    # AFTER the revenue aggregate, and the cohort-size join broadcasts.
    from insight_patents_spark.operators.aggregates import agg_cohort_ltv

    plan = formatted_plan(agg_cohort_ltv(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    idx_aggs = [m.start() for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    # the ONLY window is the cumulative one over the aggregated grid
    # (first-touch day is a hash agg, not a fact-wide window)
    assert len(idx_wins) == 1
    assert any(a < idx_wins[0] for a in idx_aggs)


def test_ann_recall_items_never_shuffle_for_join(spark, sf_dir):
    from insight_patents_spark.operators.vector import vec_ann_recall

    plan = formatted_plan(vec_ann_recall(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_rfm_boundaries_broadcast_no_global_sort(spark, sf_dir):
    # Quintile assignment must be boundary-broadcast (two 1-row
    # BroadcastNestedLoopJoins: anchor day + percentile boundaries),
    # never a global ntile window (single-partition sort of all users).
    from insight_patents_spark.operators.sequences import agg_rfm_segments

    plan = formatted_plan(agg_rfm_segments(spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") >= 2
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_survival_curve_window_is_post_agg(spark, sf_dir):
    # The descending cumulative window must run over the <=|days| grid
    # (AFTER both hash aggs), and the total-count join broadcasts.
    from insight_patents_spark.operators.sequences import agg_survival_curve

    plan = formatted_plan(agg_survival_curve(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    idx_aggs = [m.start() for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert len(idx_wins) == 1
    assert sum(1 for a in idx_aggs if a < idx_wins[0]) >= 2


def test_streaks_window_runs_on_deduped_grid(spark, sf_dir):
    # The island window must sort the distinct (user, day) grid, i.e.
    # the dedup HashAggregate precedes the single Window node.
    from insight_patents_spark.operators.sequences import win_streaks

    plan = formatted_plan(win_streaks(spark, sf_dir))
    idx_aggs = [m.start() for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert len(idx_wins) == 1
    assert any(a < idx_wins[0] for a in idx_aggs)


def test_clustering_coef_combine_join_broadcasts(spark, sf_dir):
    # The triangle-count/degree combine is |nodes|x|nodes| — it must be
    # a broadcast hash join, never a shuffle.
    from insight_patents_spark.operators.graph import graph_clustering_coef

    plan = formatted_plan(graph_clustering_coef(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_km_windows_run_on_hour_grid(spark, sf_dir):
    # Both windows (descending at-risk cumsum, ascending product-limit)
    # must run AFTER the two hash aggs collapse the fact to the <=72-cell
    # hour grid — never over per-user or per-event rows.
    from insight_patents_spark.operators.sequences import agg_survival_km

    plan = formatted_plan(agg_survival_km(spark, sf_dir))
    idx_aggs = [m.start() for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert len(idx_wins) == 2
    assert sum(1 for a in idx_aggs if a < min(idx_wins)) >= 2


def test_betweenness_reuses_cached_edges(spark, sf_dir):
    # Every forward layer and backward fold must read the one cached
    # edge table (InMemoryTableScan), never rebuild the pair self-join;
    # and no cartesian anywhere in the layered joins.
    from insight_patents_spark.operators.graph import graph_betweenness

    plan = formatted_plan(graph_betweenness(spark, sf_dir))
    assert "ExistingRDD" in plan  # the localCheckpointed edge cache
    assert "CartesianProduct" not in plan
    assert "lineitem" not in plan  # pair build never re-enters the plan


def test_iterative_graph_folds_are_quantized_sums(spark, sf_dir):
    # Hub safety: the iterative ops' per-node reductions must be plain
    # integer SUMs over quantized contributions — NEVER a collect_list
    # fold, which materializes a power-law hub's whole in-neighbor
    # contribution list as one in-memory array per agg row (the 100 TB
    # memory cliff VERDICT r7 flagged). The final (non-iterative) plan
    # is enough: any collect_list would appear in every unrolled round.
    from insight_patents_spark.operators.graph import (
        graph_betweenness,
        graph_hits,
        graph_pagerank,
        graph_pagerank_personalized,
    )

    import inspect

    for op in (
        graph_pagerank,
        graph_pagerank_personalized,
        graph_hits,
        graph_betweenness,
    ):
        # Source-level: localCheckpoint truncates the lineage of the
        # early rounds, so the final plan alone can't prove the
        # iteration body is fold-free — the function source can.
        src = inspect.getsource(op)
        assert "F.collect_list" not in src, op.__name__  # docstrings may
        assert "F.aggregate" not in src, op.__name__     # mention the term
        # Plan-level (covers whatever lineage survives checkpointing —
        # for betweenness that is the entire backward pass).
        plan = formatted_plan(op(spark, sf_dir))
        assert "collect_list" not in plan, op.__name__
        assert "sort_array" not in plan, op.__name__


def test_profile_per_column_branches_no_expand(spark, sf_dir):
    # r13 shape: one independent column-pruned branch per profiled
    # column (6 scans, each reading exactly one column), distinct
    # counting via groupBy-then-count — NO multi-distinct Expand and no
    # all-column SortAggregate anywhere (the r5-r12 single-agg form
    # paid a 7x Expand feeding two wide sort aggregates).
    from insight_patents_spark.operators.relational import (
        _PROFILE_COLS,
        profile_table,
    )

    plan = formatted_plan(profile_table(spark, sf_dir))
    assert plan.count("Location") == len(_PROFILE_COLS)  # one scan per branch
    assert "Expand" not in plan
    # every branch's distinct stage is the map-side-combinable hash agg
    assert "HashAggregate" in plan


def test_dq_fk_checks_are_anti_joins(spark, sf_dir):
    # Referential-integrity rules must be LEFT ANTI joins (broadcast at
    # this dim size), never correlated per-row lookups or cartesians.
    from insight_patents_spark.operators.relational import dq_expectations

    plan = formatted_plan(dq_expectations(spark, sf_dir))
    assert plan.count("LeftAnti") >= 2
    assert "CartesianProduct" not in plan


def test_scd2_current_reads_prune_partitions(spark, sf_dir):
    # The is_current partitioning must let current-version reads prune:
    # filtering the sink on is_current shows a PartitionFilter.
    from insight_patents_spark.operators.relational import (
        _roundtrip_dir,
        sink_scd2,
    )

    sink_scd2(spark, sf_dir)  # materializes the sink
    # partition values are directory strings on the raw read
    back = spark.read.parquet(_roundtrip_dir(sf_dir, "scd2")).filter(
        "is_current = 'true'"
    )
    plan = formatted_plan(back)
    assert "PartitionFilters: [" in plan
    assert "is_current" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]


def test_dedup_eval_truth_is_equi_join(spark, sf_dir):
    # Ground truth must be the shared-token equi-join (sort-merge/hash),
    # never a doc x doc cartesian; the predicted-pairs hit join and the
    # size joins broadcast.
    from insight_patents_spark.operators.text import dedup_eval

    plan = formatted_plan(dedup_eval(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_domain_mix_totals_broadcast(spark, sf_dir):
    # Corpus total (1 row) and per-lang totals must broadcast back to the
    # cell grid — no shuffle join anywhere.
    from insight_patents_spark.operators.text import text_domain_mix

    plan = formatted_plan(text_domain_mix(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # lang totals
    assert "BroadcastNestedLoopJoin" in plan  # 1-row corpus total


def test_cdc_compaction_is_one_log_window(spark, sf_dir):
    # Latest-wins compaction must be ONE window over the log; the merge
    # joins broadcast the compacted side.
    from insight_patents_spark.operators.relational import sink_cdc_apply

    plan = formatted_plan(sink_cdc_apply(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pareto_boundaries_broadcast_no_global_sort(spark, sf_dir):
    # Decile assignment must be boundary-broadcast comparisons; the only
    # window runs over the 10-row decile grid (post-agg), no ntile.
    from insight_patents_spark.operators.aggregates import agg_pareto

    plan = formatted_plan(agg_pareto(spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") >= 2
    assert "SortMergeJoin" not in plan
    idx_aggs = [m.start() for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert len(idx_wins) == 1
    assert sum(1 for a in idx_aggs if a < idx_wins[0]) >= 2


def test_phash_bands_are_equi_join(spark, sf_dir):
    # The multi-index candidate build must be an equi-join on
    # (band, value) — never an all-pairs nested loop over docs.
    from insight_patents_spark.operators.multimodal import mm_phash_dedup

    plan = formatted_plan(mm_phash_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_attribution_join_is_user_keyed(spark, sf_dir):
    # The purchase x touch join must key on user_id (time bound as
    # residual), and both windows reuse the pid partitioning — exactly
    # one Exchange pair feeds the windows, no cartesian.
    from insight_patents_spark.operators.sequences import agg_attribution

    plan = formatted_plan(agg_attribution(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "user_id" in plan
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert len(idx_wins) <= 2


def test_scd2_asof_dim_broadcasts_and_fact_filter_pushes(spark, sf_dir):
    from insight_patents_spark.operators.joins import join_scd2_asof

    plan = formatted_plan(join_scd2_asof(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the changed-keys fact filter reaches the orders scan
    assert "PushedFilters" in plan


def test_lr_inference_is_stateless_narrow(spark, sf_dir):
    # The hashed-weights model means NO weight-table join of any kind:
    # the plan must contain zero joins and exactly two hash aggregates
    # (doc,bucket counts then per-doc dot product), both partial+final.
    from insight_patents_spark.operators.ml import ml_lr_inference

    plan = formatted_plan(ml_lr_inference(spark, sf_dir))
    assert "Join" not in plan
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_ex <= 2  # the two agg shuffles, nothing else


def test_pr_curve_aggs_before_window(spark, sf_dir):
    # The corpus must collapse to bins via hash aggs BEFORE any window:
    # the single-partition sweep windows may only see the ≤101-bin grid.
    from insight_patents_spark.operators.ml import ml_pr_curve

    plan = formatted_plan(ml_pr_curve(spark, sf_dir))
    idx_aggs = [
        m.start()
        for m in re.finditer(r"^\(\d+\) (?:Hash|Sort)Aggregate", plan, re.M)
    ]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert idx_wins and idx_aggs
    # both the per-doc agg and the bin-cell agg run before any window
    assert sum(1 for a in idx_aggs if a < min(idx_wins)) >= 2


def test_acf_fact_shuffles_once_then_grid_only(spark, sf_dir):
    # The events fact is aggregated to the (type, day) grid first; the
    # lag self-join and moment agg run on grids. The one nested-loop join
    # crosses the grid with the broadcast lag range (1.._ACF_LAGS); the
    # self-join keys on event_type/day equality. time_pacf reads the same
    # acf builder.
    from insight_patents_spark.operators.sequences import (
        _ACF_LAGS,
        time_acf,
        time_pacf,
    )

    for fn in (time_acf, time_pacf):
        plan = formatted_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
        assert len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)) == 1
        assert f"Range (1, {_ACF_LAGS + 1}, step=1" in plan


def test_benford_single_fact_agg(spark, sf_dir):
    # One hash-agg pass over events (partial+final on (type, digit));
    # the chi-square fold and fractions ride windows over the tiny grid.
    from insight_patents_spark.operators.aggregates import agg_benford

    plan = formatted_plan(agg_benford(spark, sf_dir))
    idx_aggs = [m.start() for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert idx_wins and idx_aggs and min(idx_aggs) < min(idx_wins)
    assert "CartesianProduct" not in plan


def test_equidepth_boundaries_broadcast_no_global_sort(spark, sf_dir):
    # Boundary agg + BroadcastNestedLoopJoin of the 1-row boundary table
    # (the agg_pareto posture); no global Sort of the fact, no ntile.
    from insight_patents_spark.operators.aggregates import agg_histogram_equidepth

    plan = formatted_plan(agg_histogram_equidepth(spark, sf_dir))
    assert "Window" not in plan  # no ntile/global-sort assignment path
    assert re.search(r"Broadcast(NestedLoop)?Join|BroadcastExchange", plan)


def test_mutual_info_single_fact_agg_then_grid(spark, sf_dir):
    from insight_patents_spark.operators.aggregates import agg_mutual_info

    plan = formatted_plan(agg_mutual_info(spark, sf_dir))
    idx_aggs = [
        m.start() for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)
    ]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert idx_wins and idx_aggs and min(idx_aggs) < min(idx_wins)
    assert "CartesianProduct" not in plan


def test_interarrival_one_window_pass(spark, sf_dir):
    # One user/type-partitioned WindowExec over the fact; percentile agg
    # after it. No self-join.
    from insight_patents_spark.operators.sequences import time_interarrival

    plan = formatted_plan(time_interarrival(spark, sf_dir))
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert len(idx_wins) == 1
    assert "Join" not in plan


def test_recursive_cte_plans_joins_not_subqueries(spark, sf_dir):
    # The fixpoint must plan as frontier-vs-edges joins (UnionLoop /
    # repeated join stages), with no per-row subquery and no cartesian.
    from insight_patents_spark.operators.relational import sql_recursive_cte

    df = sql_recursive_cte(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert df.count() == 60  # 5 regions + 25 nations + 30 sampled customers


def test_rsi_two_windows_share_one_sort(spark, sf_dir):
    # grid agg -> lag window -> frame window on the SAME (type, day)
    # sort: exactly 2 Windows, and only 2 Exchanges (agg + window).
    from insight_patents_spark.operators.windows import win_rsi

    plan = formatted_plan(win_rsi(spark, sf_dir))
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert len(idx_wins) == 2
    n_sorts = len(re.findall(r"^\(\d+\) Sort$", plan, re.M))
    assert n_sorts == 1


def test_zipf_fact_collapses_before_window(spark, sf_dir):
    from insight_patents_spark.operators.text import text_zipf_fit

    plan = formatted_plan(text_zipf_fit(spark, sf_dir))
    idx_aggs = [
        m.start()
        for m in re.finditer(r"^\(\d+\) (?:Hash|Sort|ObjectHash)Aggregate", plan, re.M)
    ]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert idx_wins and idx_aggs and min(idx_aggs) < min(idx_wins)


def test_pca_vectors_never_shuffle(spark, sf_dir):
    # Every iteration shuffles only (dim, int64-partial) pairs; the
    # vector table itself is never hash-partitioned by vec_id and the
    # 1-row mean/component tables arrive via broadcast.
    from insight_patents_spark.operators.vector import vec_pca_project

    plan = formatted_plan(vec_pca_project(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "vec_id" not in m.group(1)
    assert "BroadcastExchange" in plan


def test_confusion_matrix_single_label_join(spark, sf_dir):
    # stateless decision chain + one label join + 4-cell rollup; the
    # label join must not be a sort-merge and no cartesian appears
    # (the 1-row metric crossJoin is broadcast-shaped).
    from insight_patents_spark.operators.ml import ml_confusion_matrix

    plan = formatted_plan(ml_confusion_matrix(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_calibration_no_score_collect(spark, sf_dir):
    # the float mean must come from quantized int64 sums inside the
    # hash agg — no collect_list / sort of scores anywhere.
    from insight_patents_spark.operators.ml import ml_calibration_bins

    plan = formatted_plan(ml_calibration_bins(spark, sf_dir))
    assert "collect_list" not in plan


def test_anova_single_fact_agg(spark, sf_dir):
    from insight_patents_spark.operators.aggregates import agg_anova_f

    plan = formatted_plan(agg_anova_f(spark, sf_dir))
    idx_aggs = [
        m.start()
        for m in re.finditer(r"^\(\d+\) (?:Hash|Sort|ObjectHash)Aggregate", plan, re.M)
    ]
    assert idx_aggs
    assert plan.count("events.parquet") == 1


def test_log_histogram_single_fact_agg(spark, sf_dir):
    from insight_patents_spark.operators.aggregates import agg_log_histogram

    plan = formatted_plan(agg_log_histogram(spark, sf_dir))
    assert plan.count("events.parquet") == 1
    idx_aggs = [
        m.start() for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)
    ]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert idx_wins and idx_aggs and min(idx_aggs) < min(idx_wins)


def test_geo_join_is_cell_equi_join(spark, sf_dir):
    from insight_patents_spark.operators.joins import geo_grid_join

    plan = formatted_plan(geo_grid_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_impute_median_broadcasts(spark, sf_dir):
    # the ≤|types|-row median table must broadcast; no fact window
    from insight_patents_spark.operators.relational import dq_impute

    plan = formatted_plan(dq_impute(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_sliding_distinct_explodes_then_aggregates(spark, sf_dir):
    from insight_patents_spark.operators.windows import win_sliding_distinct

    plan = formatted_plan(win_sliding_distinct(spark, sf_dir))
    assert "Generate" in plan  # the explicit ≤7x fan-out
    assert "Window" not in plan  # never a frame over the fact
    assert "BroadcastHashJoin" in plan  # day-grid clamp


def test_ks_grid_aggs_before_windows(spark, sf_dir):
    from insight_patents_spark.operators.aggregates import agg_ks_test

    plan = formatted_plan(agg_ks_test(spark, sf_dir))
    idx_aggs = [
        m.start() for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)
    ]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert idx_wins and idx_aggs and min(idx_aggs) < min(idx_wins)
    assert plan.count("events.parquet") == 1


def test_mad_medians_broadcast(spark, sf_dir):
    from insight_patents_spark.operators.aggregates import agg_mad_outliers

    plan = formatted_plan(agg_mad_outliers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_skyline_single_window_narrow_projection(spark, sf_dir):
    from insight_patents_spark.operators.windows import win_skyline_2d

    plan = formatted_plan(win_skyline_2d(spark, sf_dir))
    assert "Join" not in plan
    # only the 3 needed columns reach the scan
    assert "ReadSchema: struct<p_partkey:bigint,p_size:int,p_retailprice:double>" in plan


def test_time_decay_one_hash_agg_no_window(spark, sf_dir):
    from insight_patents_spark.operators.sequences import agg_time_decay

    plan = formatted_plan(agg_time_decay(spark, sf_dir))
    assert "Window" not in plan
    assert "collect_list" not in plan  # quantized sum, not ordered fold


def test_markov_stationary_iterates_on_grid_only(spark, sf_dir):
    # one fact scan; all 8 matvec rounds run on the checkpointed grid
    from insight_patents_spark.operators.sequences import seq_markov_stationary

    plan = formatted_plan(seq_markov_stationary(spark, sf_dir))
    assert "events.parquet" not in plan  # grid is checkpointed — no fact rescan
    assert "CartesianProduct" not in plan


def test_bounce_rate_one_user_shuffle(spark, sf_dir):
    # sessionize windows + both aggs reuse the user_id partitioning:
    # no second wide exchange keyed on anything user-derived
    from insight_patents_spark.operators.windows import agg_bounce_rate

    plan = formatted_plan(agg_bounce_rate(spark, sf_dir))
    assert plan.count("events.parquet") == 1
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert len(idx_wins) <= 2


def test_pip_edges_broadcast_points_stay_narrow(spark, sf_dir):
    from insight_patents_spark.operators.joins import geo_point_in_polygon

    plan = formatted_plan(geo_point_in_polygon(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # edge table broadcast
    assert "SortMergeJoin" not in plan


def test_pca_top2_vectors_never_shuffle(spark, sf_dir):
    from insight_patents_spark.operators.vector import vec_pca_top2

    plan = formatted_plan(vec_pca_top2(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "vec_id" not in m.group(1)


def test_geo_density_fact_aggregates_once(spark, sf_dir):
    from insight_patents_spark.operators.joins import geo_cell_density

    plan = formatted_plan(geo_cell_density(spark, sf_dir))
    # the cell grid is checkpointed: the fact never re-enters the plan
    assert plan.count("customer.parquet") == 0
    assert "CartesianProduct" not in plan


def test_markov_attr_iterates_on_checkpointed_grid(spark, sf_dir):
    # the fact is read once (transition build); the 5x12 iteration plan
    # references only the checkpointed grids
    from insight_patents_spark.operators.sequences import seq_attribution_markov

    plan = formatted_plan(seq_attribution_markov(spark, sf_dir))
    assert "events.parquet" not in plan  # grids are checkpointed
    assert "CartesianProduct" not in plan


def test_assortativity_degree_joins_broadcast(spark, sf_dir):
    from insight_patents_spark.operators.graph import graph_assortativity

    plan = formatted_plan(graph_assortativity(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_udtf_table_arg_partitions_and_sorts(spark, sf_dir):
    # one shuffle on the partition key feeding a python UDTF (BatchEval)
    from insight_patents_spark.operators.udf import udtf_table_arg

    plan = formatted_plan(udtf_table_arg(spark, sf_dir))
    # Spark 4.1.2 aliases the UDTF TABLE-arg PARTITION BY column to an
    # internal name (partition_by_0), so accept either spelling of the
    # same Exchange hashpartitioning node.
    assert re.search(r"hashpartitioning\((?:event_type|partition_by_0)", plan)
    assert "UDTF" in plan or "PythonUDTF" in plan or "BatchEval" in plan


def test_ngram_jaccard_blocking_is_joins_not_cartesian(spark, sf_dir):
    # PPJoin prefix blocking: candidate generation must be an equi-join
    # on the shared shingle (never all-pairs), and verification must be
    # the exact full-set array_intersect
    from insight_patents_spark.operators.text import dedup_ngram_jaccard

    plan = formatted_plan(dedup_ngram_jaccard(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" in plan


def test_scc_peel_plan_is_checkpointed_joins(spark, sf_dir):
    # the peel must never materialize a transitive closure or fall back
    # to a nested-loop product; the result plan unions per-round
    # checkpointed label frames (lineage truncated per round)
    from insight_patents_spark.operators.graph import graph_scc

    df = graph_scc(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan  # localCheckpoint-truncated lineage


def test_ml_rank_metrics_bin_before_window(spark, sf_dir):
    # ml_roc_auc / ml_average_precision / ml_lift_gains: the corpus must
    # collapse to the integer score-bin grid (hash/sort aggregates)
    # BEFORE any window touches it — the never-sort-the-corpus property
    # these metrics exist for — and the documents scan happens once.
    from insight_patents_spark.operators.ml import (
        ml_average_precision,
        ml_lift_gains,
        ml_roc_auc,
    )

    for fn in (ml_roc_auc, ml_average_precision, ml_lift_gains):
        plan = formatted_plan(fn(spark, sf_dir))
        idx_aggs = [
            m.start()
            for m in re.finditer(r"^\(\d+\) (Hash|Sort)Aggregate", plan, re.M)
        ]
        idx_wins = [
            m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)
        ]
        assert idx_wins and idx_aggs and min(idx_aggs) < min(idx_wins), fn
        assert plan.count("documents.parquet") == 1, fn


def test_ndcg_two_rankings_share_one_shuffle(spark, sf_dir):
    # both ROW_NUMBER windows (model ranking, ideal ranking) and the
    # final per-user aggregate must ride ONE (user_id) exchange — the
    # partitioning-reuse property that makes per-query ranking metrics
    # a single-shuffle job at any corpus size.
    from insight_patents_spark.operators.ml import ml_ndcg

    plan = formatted_plan(ml_ndcg(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Window$", plan, re.M)) == 2
    assert plan.count("events.parquet") == 1


def test_psi_and_chi_square_windows_after_one_fact_agg(spark, sf_dir):
    # drift/independence stats: ONE fact aggregate collapses the corpus
    # to the category grid; marginals/totals come from windows over that
    # grid (never a second fact scan, never a join back to the corpus).
    from insight_patents_spark.operators.aggregates import agg_chi_square
    from insight_patents_spark.operators.ml import ml_psi_drift

    for fn in (ml_psi_drift, agg_chi_square):
        plan = formatted_plan(fn(spark, sf_dir))
        assert plan.count("documents.parquet") == 1, fn
        assert "Join" not in plan, fn  # marginals via windows, not joins
        idx_aggs = [
            m.start()
            for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)
        ]
        idx_wins = [
            m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)
        ]
        assert idx_wins and idx_aggs and min(idx_aggs) < min(idx_wins), fn


def test_geo_knn_broadcasts_probes_two_stage_topk(spark, sf_dir):
    # exact kNN at scale: the bounded probe side ships as a broadcast
    # variable into ONE vectorized Arrow batch pass over the item
    # partitions, which emits only per-partition top-k — the
    # |probes|x|items| distance stream never materializes as JVM rows
    # (no cross join, no Window, no Sort of the heavy stream); a tiny
    # per-probe merge finishes. (r14 — the former two-window cell
    # refinement comparator-sorted the full 15M-row cross product
    # twice, 110 s CPU at sf0.1; a JVM collect_list hash-agg top-k was
    # A/B'd WORSE at 75-115 s CPU.)
    from insight_patents_spark.operators.joins import geo_knn

    plan = formatted_plan(geo_knn(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 0
    # no Sort anywhere: top-k is vectorized in the batch pass, the
    # merge is an in-row array_sort over bounded survivor groups
    assert len(re.findall(r"^\(\d+\) Sort", plan, re.M)) == 0
    assert plan.count("ObjectHashAggregate") >= 1


def test_winnowing_is_narrow_scan_speed(spark, sf_dir):
    # the whole fingerprint selection (gram hashes, window minima,
    # per-doc dedup) runs inside array expressions per row: the ONLY
    # exchange allowed is the input-split round-robin that fans the
    # per-row work out of the single local parquet split (r13, guide
    # §2.5) — no keyed shuffle, no join, no aggregation anywhere.
    from insight_patents_spark.operators.text import text_winnowing

    plan = formatted_plan(text_winnowing(spark, sf_dir))
    assert plan.count("Exchange") <= 2  # tree + detail of the one round-robin
    assert "hashpartitioning" not in plan
    assert "Generate" in plan  # the final fingerprint explode
    assert "Join" not in plan


def test_pair_support_collapses_to_first_seen_grid(spark, sf_dir):
    # the event stream must collapse to the (user, type) first-seen grid
    # BEFORE the pattern self-join; the antecedent base and user-count
    # scalar ride broadcasts; no cartesian on data-sized inputs (the one
    # BroadcastNestedLoopJoin is the 1-row n_users scalar).
    from insight_patents_spark.operators.sequences import seq_pair_support

    plan = formatted_plan(seq_pair_support(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the |types|-row base join
    assert "ExistingRDD" in plan  # checkpointed grid feeds all consumers
    assert "events.parquet" not in plan  # fact scanned once, at pin time


def test_mann_kendall_pairs_on_checkpointed_grid(spark, sf_dir):
    # the O(days²) pair join must run on the materialized (type, day)
    # grid (ExistingRDD from localCheckpoint — fact scanned ONCE), never
    # on the raw events table
    from insight_patents_spark.operators.windows import win_mann_kendall

    plan = formatted_plan(win_mann_kendall(spark, sf_dir))
    assert "ExistingRDD" in plan  # checkpointed grid feeds all consumers
    assert "events.parquet" not in plan
    assert "CartesianProduct" not in plan


def test_freshness_is_one_fact_agg_no_window(spark, sf_dir):
    # trailing-window counts are conditional sums against a broadcast
    # scalar anchor: one fact aggregate, no window functions, no
    # second fact scan beyond the 1-row anchor aggregate
    from insight_patents_spark.operators.relational import dq_freshness

    plan = formatted_plan(dq_freshness(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row anchor scalar
    assert plan.count("events.parquet") == 2  # anchor agg + fact agg


def test_ks_separation_grid_windows_after_agg(spark, sf_dir):
    # the score KS rides the same bin-grid discipline as the other ml
    # metrics: corpus collapses before any window, one documents scan
    from insight_patents_spark.operators.ml import ml_ks_separation

    plan = formatted_plan(ml_ks_separation(spark, sf_dir))
    assert plan.count("documents.parquet") == 1
    idx_aggs = [
        m.start()
        for m in re.finditer(r"^\(\d+\) (Hash|Sort)Aggregate", plan, re.M)
    ]
    idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
    assert idx_wins and idx_aggs and min(idx_aggs) < min(idx_wins)


def test_dsir_weights_broadcast_corpus_scanned_once(spark, sf_dir):
    # the (doc, bucket) grid is checkpointed (ExistingRDD) and feeds
    # both the weight grid and the scoring join; the ≤512-row weight
    # table must come back as a BROADCAST join — the corpus never
    # shuffles for scoring
    from insight_patents_spark.operators.text import text_dsir_weight

    plan = formatted_plan(text_dsir_weight(spark, sf_dir))
    assert "ExistingRDD" in plan
    assert "documents.parquet" not in plan  # fact scanned once, at pin
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_decompose_grid_bound_after_one_fact_agg(spark, sf_dir):
    # the decomposition must be grid-bound: the checkpointed (type, day)
    # grid (ExistingRDD) feeds trend window, weekday cells, and the
    # final join — no second events scan, weekday table broadcast
    from insight_patents_spark.operators.sequences import (
        time_decompose_classical,
    )

    plan = formatted_plan(time_decompose_classical(spark, sf_dir))
    assert "ExistingRDD" in plan
    assert "events.parquet" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_peak_concurrency_sweeps_checkpointed_intervals(spark, sf_dir):
    # markers, peak, peak-time, and session count must all derive from
    # the ONE checkpointed interval table — never re-sessionize
    from insight_patents_spark.operators.windows import (
        agg_peak_concurrency,
    )

    plan = formatted_plan(agg_peak_concurrency(spark, sf_dir))
    assert "ExistingRDD" in plan
    assert "events.parquet" not in plan
    assert "CartesianProduct" not in plan


def test_delong_and_ece_stay_grid_bound(spark, sf_dir):
    # both inferential metrics must keep the bin-grid discipline:
    # corpus collapses before any window, one documents scan each
    from insight_patents_spark.operators.ml import ml_auc_delong_ci, ml_ece

    # delong: one scan (bins carry the label); ece: the lr score chain
    # plus the pruned label join = two scans (same as calibration_bins)
    for fn, n_scans in ((ml_auc_delong_ci, 1), (ml_ece, 2)):
        plan = formatted_plan(fn(spark, sf_dir))
        assert plan.count("documents.parquet") == n_scans, fn
        idx_aggs = [
            m.start()
            for m in re.finditer(r"^\(\d+\) (Hash|Sort)Aggregate", plan, re.M)
        ]
        idx_wins = [
            m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)
        ]
        assert idx_wins and idx_aggs and min(idx_aggs) < min(idx_wins), fn


def test_referential_integrity_broadcasts_dims(spark, sf_dir):
    # dimension parents (part, supplier) must broadcast; no window, no
    # cartesian beyond the 1-row scalar-combine cross joins
    from insight_patents_spark.operators.relational import (
        dq_referential_integrity,
    )

    plan = formatted_plan(dq_referential_integrity(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_theil_sen_pairs_on_checkpointed_grid(spark, sf_dir):
    # pairwise slopes must come from the materialized daily grid
    # (fact scanned once), same discipline as win_mann_kendall
    from insight_patents_spark.operators.windows import win_theil_sen

    plan = formatted_plan(win_theil_sen(spark, sf_dir))
    assert "ExistingRDD" in plan
    assert "events.parquet" not in plan
    assert "CartesianProduct" not in plan


def test_cluster_cells_points_aggregate_once(spark, sf_dir):
    # the point data's only appearance is the checkpointed cell-count
    # agg; the returned plan unions the broadcast-sized cluster rows
    # with the noise aggregate over that checkpoint — no second scan
    from insight_patents_spark.operators.joins import geo_cluster_cells

    plan = formatted_plan(geo_cluster_cells(spark, sf_dir))
    assert "customer.parquet" not in plan
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_holt_winters_is_one_shuffle_in_row_fold(spark, sf_dir):
    # the whole recursion must run inside the row: exactly one Exchange
    # (the user_id grouping), no Window, no joins, no second scan
    from insight_patents_spark.operators.windows import win_holt_winters

    plan = formatted_plan(win_holt_winters(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "Join" not in plan
    assert plan.count("events.parquet") == 1


def test_pmi_pairs_enumerate_in_row_from_one_grid(spark, sf_dir):
    # the (doc, token) presence grid is checkpointed and feeds the
    # frequency table, the in-row pair enumeration, and the doc count —
    # one documents scan total; the frequency joins come back broadcast
    from insight_patents_spark.operators.text import text_pmi_cooccur

    plan = formatted_plan(text_pmi_cooccur(spark, sf_dir))
    assert "ExistingRDD" in plan
    assert "documents.parquet" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_join_skew_aqe_splits_hot_partition(spark, sf_dir):
    # The AQE runtime skew-split must actually fire on the hot-key
    # fixture: executed plan carries the skew-join marker on a
    # sort-merge join (no broadcast may swallow the exhibit).
    from insight_patents_spark.operators.joins import (
        _AQE_SKEW_CONFS,
        _skew_join_frame,
    )

    with conf_scope(spark, _AQE_SKEW_CONFS):
        df = _skew_join_frame(spark, sf_dir)
        df.foreach(lambda r: None)  # execute under the skew confs
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin(skew=true)" in plan
    assert "skewed" in plan  # the AQEShuffleRead skew-split marker
    assert "BroadcastHashJoin" not in plan


def test_pipeline_e2e_plan_shape(spark, sf_dir):
    # The flagship chain's pre-sink plan: the part dim is broadcast,
    # the per-class top-3 is WindowGroupLimit-eligible, the rank state
    # arrives from the checkpointed loop (ExistingRDD), and the fact
    # table never re-enters (the text roundtrip + edge checkpoint own
    # it). No cartesian anywhere.
    from insight_patents_spark.operators.pipeline import _e2e_presink

    plan = formatted_plan(_e2e_presink(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "lineitem" not in plan


def test_tree_inference_is_zero_exchange_projection(spark, sf_dir):
    # Compiled model serving must stay a narrow codegen map: one pruned
    # scan, zero Exchange, no UDF/Python nodes anywhere.
    from insight_patents_spark.operators.ml import ml_tree_inference

    plan = formatted_plan(ml_tree_inference(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_dedup_lines_shuffles_digests_not_text(spark, sf_dir):
    # The line-dedup shuffle keys must be md5 digests: the keeper agg
    # groups by the 32-char hash, and no Exchange partitions on a raw
    # line/text column.
    from insight_patents_spark.operators.text import dedup_lines

    plan = formatted_plan(dedup_lines(spark, sf_dir))
    assert "md5" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([a-zA-Z0-9_#]+)", plan):
        key = m.group(1)
        assert key.startswith(("lh", "doc_id")), f"unexpected shuffle key {key}"


def test_experimentation_suite_is_single_pass(spark, sf_dir):
    # Every experimentation estimator reads its fact exactly once and
    # collapses to grid cells before any further op — one events scan,
    # no window before the first aggregate, no cartesian.
    from insight_patents_spark.operators.aggregates import (
        agg_causal_did,
        agg_delta_ratio_ci,
        agg_power_mde,
    )

    for fn in (agg_causal_did, agg_delta_ratio_ci, agg_power_mde):
        plan = formatted_plan(fn(spark, sf_dir))
        assert plan.count("events.parquet") == 1, fn
        assert "CartesianProduct" not in plan
        idx_aggs = [
            m.start()
            for m in re.finditer(r"^\(\d+\) (Hash|Sort|Object.*)Aggregate", plan, re.M)
        ]
        idx_wins = [m.start() for m in re.finditer(r"^\(\d+\) Window$", plan, re.M)]
        assert idx_aggs, fn
        if idx_wins:
            assert min(idx_aggs) < min(idx_wins), fn


def test_shapley_lattice_is_broadcast_only_after_user_agg(spark, sf_dir):
    # All coalition work must ride broadcast joins on the 16-row mask
    # grid: exactly one events scan, and every join on the lattice side
    # is a BroadcastHashJoin or BroadcastNestedLoop over <=16-row inputs.
    from insight_patents_spark.operators.sequences import (
        seq_attribution_shapley,
    )

    plan = formatted_plan(seq_attribution_shapley(spark, sf_dir))
    # the user-mask table localCheckpoints, so the corpus chain appears
    # ZERO times in the lattice plan (ExistingRDD feeds everything)
    assert plan.count("events.parquet") == 0
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 3


def test_kalman_croston_are_single_shuffle_folds(spark, sf_dir):
    # The in-row recursion family: one wide Exchange builds the sorted
    # per-key array; the recursion itself adds NO plan operators.
    from insight_patents_spark.operators.sequences import time_croston
    from insight_patents_spark.operators.windows import win_kalman_1d

    plan_k = formatted_plan(win_kalman_1d(spark, sf_dir))
    # at most the ONE user_id exchange (AQE may hide it pre-execution
    # on single-split input); the recursion adds no operators either way
    assert plan_k.count("Exchange hashpartitioning") <= 1
    assert "Window" not in plan_k.split("Aggregate")[0]
    assert "aggregate(" in plan_k  # the in-row fold expression
    plan_c = formatted_plan(time_croston(spark, sf_dir))
    assert "aggregate(" in plan_c
    assert "CartesianProduct" not in plan_c


def test_cluster_purity_broadcasts_centroids(spark, sf_dir):
    # assignment must be a broadcast-centroid argmin: the embeddings
    # table never hash-partitions for the distance pass, and no
    # cartesian appears (the cross join is broadcast-nested-loop over
    # the tiny centroid side).
    from insight_patents_spark.operators.vector import vec_cluster_purity

    plan = formatted_plan(vec_cluster_purity(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_fixed_width_is_zero_exchange_projection(spark, sf_dir):
    # copybook parse must stay a narrow zero-shuffle projection.
    from insight_patents_spark.operators.relational import (
        scan_text_fixed_width,
    )

    plan = formatted_plan(scan_text_fixed_width(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_permutation_importance_single_partner_join(spark, sf_dir):
    # exactly ONE join brings the permuted partner; the four scorings
    # are CASE chains in projections (no extra scans of documents
    # beyond the checkpointed feature frame).
    from insight_patents_spark.operators.ml import ml_permutation_importance

    plan = formatted_plan(ml_permutation_importance(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the feature frame is checkpointed -> ExistingRDD, raw scans gone
    assert plan.count("documents.parquet") == 0
    assert "ExistingRDD" in plan


def test_llm_curation_feature_pass_is_single_scan(spark, sf_dir):
    # The curation flagship's per-document QC-feature pass must read
    # the corpus EXACTLY once, with every gate feature computed in-row:
    # no join, no aggregate, no window, no Python — one scan, one
    # (split-escape) exchange, projections only.
    from insight_patents_spark.operators.pipeline import (
        _llm_curation_features,
    )

    plan = formatted_plan(_llm_curation_features(spark, sf_dir))
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan
    assert "Aggregate" not in plan
    assert "Window" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan
    # column pruning: only the three consumed columns reach the scan
    assert "ReadSchema: struct<doc_id:bigint,text:string,lang:string>" in plan


def test_llm_curation_packed_plan_shape(spark, sf_dir):
    # Stages 2b-6 run over checkpointed side tables (feature frame +
    # drop lists): the corpus never re-enters (zero parquet scans of
    # documents), the exact-dup keeper window partitions by the md5
    # digest (never raw text), the class-count join is broadcast, and
    # nothing is cartesian (the 1-row min-class join is broadcast NL by
    # construction, like every scalar boundary join in the repo).
    from insight_patents_spark.operators.pipeline import (
        _llm_curation_packed,
    )

    plan = formatted_plan(_llm_curation_packed(spark, sf_dir))
    assert plan.count("documents.parquet") == 0
    assert "ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan
    assert "md5" in plan
    assert "CartesianProduct" not in plan


def test_weighted_minhash_band_join_reads_materialized_signatures(spark, sf_dir):
    # The band self-join must consume the CHECKPOINTED signature table
    # on both sides (one count->hash-agg build total, ExistingRDD in
    # the join plan) and verify by bitset popcount on carried dictionary
    # masks (r13: the _doc_sig_mask element-vocab variant) — documents
    # never re-enters, no element string array rides the band shuffle,
    # nothing is cartesian.
    from insight_patents_spark.operators.text import dedup_minhash_weighted

    plan = formatted_plan(dedup_minhash_weighted(spark, sf_dir))
    assert plan.count("documents.parquet") == 0
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan
    assert "array_intersect" not in plan


def test_apriori_chain_shape(spark, sf_dir):
    # The Apriori chain must show: candidate generation + subset prune
    # as joins over the CHECKPOINTED L2 (ExistingRDD), a semi-join for
    # the monotonicity prune, candidate-driven support counting via
    # equi-joins — and NO in-row triple expansion (no Generate node
    # producing 3-structs) and no cartesian anywhere.
    from insight_patents_spark.operators.aggregates import (
        agg_apriori_triples,
    )

    plan = formatted_plan(agg_apriori_triples(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    # support counting never expands triples in-row: the only Generate
    # nodes allowed would be pair-level, and the final plan has none
    assert "Generate explode" not in plan


def test_icws_band_join_reads_materialized_signatures(spark, sf_dir):
    # Same contract as the weighted-minhash gate: the probe band join
    # must consume the CHECKPOINTED ICWS signature table on both sides
    # (ExistingRDD; one tf->sample->argmin build total), documents never
    # re-enters after the signature build, nothing is cartesian, and
    # verification runs on the carried weight maps via ONE map_zip_with
    # merge per candidate, not a corpus re-join.
    from insight_patents_spark.operators.text import dedup_minhash_icws

    plan = formatted_plan(dedup_minhash_icws(spark, sf_dir))
    assert plan.count("documents.parquet") == 0
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "map_zip_with" in plan


def test_vec_ann_nsw_search_reads_materialized_index(spark, sf_dir):
    # The returned plan is the SEARCH (+ grounding): the frontier
    # arrives checkpointed (ExistingRDD — the hop loop ran eagerly, each
    # hop reading the BUCKETED index tables, gated separately below),
    # and nothing is cartesian (the exact-NN grounding is a broadcast
    # nested-loop, not a cartesian). Since r13 the ONLY corpus scans
    # allowed are the entry-point min and the exact-grounding arm
    # (both column-pruned; the grounding arm is the test-SF-only
    # sampled-probe exhibit) — the hop/search path itself must not
    # re-derive anything from embeddings.parquet.
    from insight_patents_spark.operators.vector import vec_ann_nsw

    plan = formatted_plan(vec_ann_nsw(spark, sf_dir))
    # formatted explain lists each node twice (tree + detail): <= 2
    # distinct scans of the corpus (entry min + exact arm)
    assert plan.count("embeddings.parquet") <= 4
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_seq_gsp_triples_runs_on_checkpointed_grids(spark, sf_dir):
    # The level-wise chain must consume the checkpointed position grids
    # (ExistingRDD: seq / fp1 / fp2 — events.parquet is scanned exactly
    # once, at seq build time, and never re-enters the returned plan),
    # the prune lists and the n_users scalar must arrive by broadcast,
    # and nothing is cartesian (the 1-row scalar joins are broadcast
    # nested loops).
    from insight_patents_spark.operators.sequences import seq_gsp_triples

    plan = formatted_plan(seq_gsp_triples(spark, sf_dir))
    assert plan.count("events.parquet") == 0
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the l1/l2 prune-list joins


def test_graph_louvain_move_scores_from_checkpointed_labels(spark, sf_dir):
    # The returned plan is the scoring stage: it must read the
    # checkpointed label + edge tables (ExistingRDD — the gain pass and
    # the contraction loop ran eagerly at build time), broadcast the
    # |nodes|-sized label table into both w_in endpoint joins, and
    # contain no CartesianProduct (the m2 scalar is a broadcast
    # nested loop).
    from insight_patents_spark.operators.graph import graph_louvain_move

    plan = formatted_plan(graph_louvain_move(spark, sf_dir))
    assert "lineitem.parquet" not in plan
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_mm_crossmodal_broadcasts_probe_batch(spark, sf_dir):
    # vec_mips posture: the query batch (with its prefix-sliced vectors)
    # must broadcast into the item scan — ONE Python stage (the Arrow
    # encoder) on the item side, no shuffle of items, no CartesianProduct
    # (the probe fan-out is a broadcast nested loop).
    from insight_patents_spark.operators.multimodal import mm_crossmodal_topk

    plan = formatted_plan(mm_crossmodal_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # exactly one Arrow Python stage: the encoder (match detail headers)
    import re as _re
    assert len(_re.findall(r"^\(\d+\) (?:MapInPandas|ArrowEvalPython)", plan, _re.M)) == 1


def test_ml_woe_iv_is_grid_only_after_one_scan(spark, sf_dir):
    # ONE documents scan collapses to the bin grid; every window and the
    # IV fold run on the grid — no second corpus scan, no join of any
    # kind, no Python stage.
    from insight_patents_spark.operators.ml import ml_woe_iv

    plan = formatted_plan(ml_woe_iv(spark, sf_dir))
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_sample_coreset_is_take_ordered_over_checkpointed_distances(spark, sf_dir):
    # The returned plan must be TakeOrderedAndProject (per-partition
    # top-m merge — no global Sort, no unpartitioned Window) over the
    # CHECKPOINTED distance table (ExistingRDD on both the Σd² reduce
    # and the keyed pass; embeddings.parquet absent — the mean pass ran
    # at build time as bounded metadata).
    from insight_patents_spark.operators.vector import sample_coreset

    plan = formatted_plan(sample_coreset(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("embeddings.parquet") == 0
    assert "ExistingRDD" in plan
    assert "Window" not in plan


def test_udtf_apply_in_arrow_is_one_shuffle_grouped_arrow(spark, sf_dir):
    # Grouped Arrow map: exactly ONE exchange (hash on the group key),
    # one Arrow grouped-map python node, and the customer scan pruned
    # to the two consumed columns.
    from insight_patents_spark.operators.udf import udtf_apply_in_arrow

    plan = formatted_plan(udtf_apply_in_arrow(spark, sf_dir))
    assert "FlatMapGroupsInArrow" in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "ReadSchema: struct<c_nationkey:int,c_acctbal:double>" in plan


def test_vec_ann_nsw_build_is_ivf_seeded_no_all_pairs(spark, sf_dir):
    # The r12 scale fix (VERDICT r11 #1): the kNN-graph BUILD must be
    # the IVF-seeded construction, not an all-pairs fold. The only
    # nested-loop join allowed is the N x n_list seed assignment (its
    # broadcast side filtered by the seed modulus); the candidate join
    # is an EQUI join on cell_id; nothing is cartesian.
    from pyspark.sql import functions as F

    from insight_patents_spark.operators.vector import (
        _NSW_SEED_MOD,
        _nsw_build_sims,
    )
    from insight_patents_spark.sources.tables import load

    nodes = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").alias("v"))
        .localCheckpoint()
    )
    plan = formatted_plan(_nsw_build_sims(spark, nodes))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 0, (
        "candidate scoring reads the checkpointed cell index; the seed "
        "assignment BNLJ ran eagerly at cell-index build time"
    )
    assert "cell_id" in plan  # the candidate join is cell-scoped
    # and the eager cell-index build itself: one BNLJ vs the seed set
    seeds = nodes.filter(F.col("vec_id") % _NSW_SEED_MOD == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv")
    )
    assign_plan = formatted_plan(
        nodes.repartition(spark.sparkContext.defaultParallelism).crossJoin(
            F.broadcast(seeds)
        )
    )
    assert "CartesianProduct" not in assign_plan
    assert assign_plan.count("BroadcastNestedLoopJoin") >= 1
    assert f"% {_NSW_SEED_MOD})" in assign_plan  # broadcast side = seeds


def test_dedup_embed_cosine_is_cell_scoped_no_label_block_all_pairs(
    spark, sf_dir
):
    # The r13 scale fix (VERDICT r12 #1): dedup_embed_cosine's pair
    # stage must be candidate-scoped by the IVF cell assignment, not a
    # label-block all-pairs broadcast (labels have FIXED cardinality, so
    # blocking on them alone is corpus-quadratic at 100 TB). The
    # returned plan reads the checkpointed assignment; its only join is
    # the cell_id EQUI join — no cartesian, no nested-loop join, and the
    # join keys include cell_id, not label alone.
    from insight_patents_spark.operators.vector import dedup_embed_cosine

    plan = formatted_plan(dedup_embed_cosine(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 0, (
        "pair candidates must come from the cell_id equi join; the seed "
        "assignment BNLJ runs eagerly at checkpoint build time"
    )
    assert "cell_id" in plan and "cell_b" in plan  # cell-scoped join keys


def test_vec_ann_nsw_hop_join_reads_bucketed_index_no_full_broadcast(
    spark, sf_dir
):
    # The r13 read-path fix (VERDICT r12 #2): a search hop must join the
    # frontier into the BUCKETED index tables — no full-index
    # BroadcastExchange (broadcasting nodes/edges caps the index at
    # executor memory). The only broadcast allowed in a hop is the
    # bounded per-batch query set; both index joins are sort-merge into
    # the bucketed layout, and the bucketed sides scan with NO Exchange.
    from insight_patents_spark.operators.vector import (
        _NSW_QMOD,
        _nsw_hop,
        vec_ann_nsw,
    )
    from insight_patents_spark.sources.tables import load, src_stamp

    vec_ann_nsw(spark, sf_dir)  # ensures the index tables exist
    k = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    stamp = src_stamp(sf_dir, "embeddings")
    edges = spark.table(f"ips_nsw_{k}_edges_{stamp}")
    nodesb = spark.table(f"ips_nsw_{k}_nodes_{stamp}")
    nodes = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").alias("v"))
        .localCheckpoint()
    )
    queries = (
        nodes.filter(F.col("vec_id") % _NSW_QMOD == 7)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .localCheckpoint()
    )
    cur = queries.select(
        "query_id", F.col("query_id").alias("cur_id"),
        F.lit(0.0).alias("sim"),
    )
    plan = formatted_plan(_nsw_hop(cur, edges, nodesb, queries))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") >= 2, plan  # both index joins
    # formatted explain prints every node twice (tree + detail section),
    # so ONE BroadcastExchange — the bounded query batch — counts as 2
    assert plan.count("BroadcastExchange") <= 2, (
        "only the bounded query batch may broadcast in a hop; the index "
        "tables must be read through their bucketed layout"
    )
    assert plan.count("Bucketed: true") >= 2, plan  # index scans in place
