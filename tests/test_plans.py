"""Physical-plan shape assertions — the 100 TB story, checked at any SF.

Correctness tests prove the values; these prove the *plan*: filters reach the
parquet scan, projections prune columns, dims broadcast, top-k avoids a global
sort. A regression here is invisible at sf0.01 and fatal at 100 TB.
"""

from __future__ import annotations

import pytest

from recsys_spark_spark.plans.audit import (
    executed_plan,
    join_lines,
    partition_filters,
    read_schemas,
    shuffle_stage_count,
)
from recsys_spark_spark.registry import load_all
from tests.conftest import SF_SMOKE

QUERIES, _ = load_all()


def plan_of(spark, name: str) -> str:
    # Pin the RAW plan: earlier tests in the shared session may have
    # populated session-memoized persisted frames (flagship_recs, _train_recs),
    # and the CacheManager substitutes canonically-identical subtrees with
    # InMemoryRelation — which would hide exactly the join/filter shapes
    # these tests exist to pin.
    spark.catalog.clearCache()
    return executed_plan(QUERIES[name](spark, SF_SMOKE))


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "q_scan_filter_pushdown")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    plan = plan_of(spark, "q_scan_project")
    schemas = read_schemas(plan)
    assert schemas
    # none of the non-projected columns may appear in the scan schema
    for col in ("l_extendedprice", "l_shipdate", "l_returnflag"):
        assert all(col not in s for s in schemas)


def test_broadcast_join_used_for_dims(spark):
    plan = plan_of(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multiway_join_broadcasts_dims(spark):
    plan = plan_of(spark, "q_join_multiway")
    assert "BroadcastHashJoin" in plan


def test_global_topk_avoids_total_sort(spark):
    plan = plan_of(spark, "q_orderby_limit")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_operators(spark):
    assert "LeftSemi" in plan_of(spark, "q_join_semi")
    assert "LeftAnti" in plan_of(spark, "q_join_anti")


def test_flagship_has_no_cartesian(spark):
    plan = plan_of(spark, "q_cf_recommend")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["q_cf_cooccurrence", "q_cf_recommend"])
def test_cf_plans_use_hash_aggregate(spark, name):
    plan = plan_of(spark, name)
    assert "HashAggregate" in plan


def test_partitioned_sink_read_prunes_partitions(spark):
    """The 100 TB layout contract: a filter on the partition column of a
    partitionBy-written dataset must become a PartitionFilter (directory
    pruning), not a data filter — at scale this is the difference between
    listing one directory and scanning the lake."""
    import os
    import shutil

    from recsys_spark_spark.catalog import table
    from recsys_spark_spark.operators.scans import TMP_DIR

    out = os.path.join(TMP_DIR, "prune_test")
    shutil.rmtree(out, ignore_errors=True)
    table(spark, SF_SMOKE, "customer").write.mode("overwrite").partitionBy(
        "c_mktsegment"
    ).parquet(out)
    df = spark.read.parquet(out).where("c_mktsegment = 'BUILDING'").select("c_custkey")
    pf = partition_filters(executed_plan(df))
    assert pf and any("c_mktsegment" in seg for seg in pf), (
        f"partition filter not pruned: {pf}"
    )
    shutil.rmtree(out, ignore_errors=True)


def test_flagship_seen_filter_never_broadcasts(spark):
    """The exclude-seen step is a per-user set-membership test: an inner
    shuffled-hash join on user_id against collect_set(seen) followed by an
    array_contains filter. Two invariants guard it: the membership filter
    must exist, and no user_id-keyed join in the flagship may broadcast —
    auto-broadcast there serializes user-history-sized data through a
    single-threaded driver build (measured 2-4x flagship inflation;
    impossible at 100 TB). Guards the hint('shuffle_hash') + array_contains
    shape in itemcf.recommend()."""
    plan = plan_of(spark, "q_cf_recommend")
    assert "array_contains" in plan, "flagship lost its seen-membership filter"
    bad = [
        ln
        for ln in join_lines(plan, "BroadcastHashJoin")
        if "user_id" in ln
    ]
    assert not bad, (
        "a user_id-keyed flagship join reverted to broadcast:\n" + "\n".join(bad)
    )


def test_knn_topk_window_is_group_limited(spark):
    """q_sim_cosine_knn ranks with a global (no partitionBy) row_number
    window; that is safe ONLY because WindowGroupLimit pre-prunes each input
    partition to the top-10 before the singleton exchange. Pin the
    optimization so a Spark upgrade or query edit can't silently
    reintroduce a full single-partition sort of the scored table."""
    plan = plan_of(spark, "q_sim_cosine_knn")
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan, (
        "rank-limit pushdown did not fire; global top-k would sort the full "
        "scored table in one partition:\n" + plan.split("+- Project")[0]
    )


def test_flagship_is_two_exchange_plan(spark):
    """The whole CF chain must need exactly two data exchanges: the
    interaction matrix build (keyed by user_id — reused exchange-free by the
    history cap, self-join, score agg, seen filter, and top-N window) and the
    directional-pair repartition (keyed by item_i). More exchanges means the
    partitioning design regressed; it is the core of the 100 TB story.
    Counted from the *executed* adaptive plan as materialized
    ShuffleQueryStages (broadcast stages and pre-AQE initial-plan prints are
    excluded by construction)."""
    spark.catalog.clearCache()  # count the RAW chain, not a cached substitute
    df = QUERIES["q_cf_recommend"](spark, SF_SMOKE)
    n = shuffle_stage_count(executed_plan(df, materialize=True))
    assert n <= 2, f"flagship grew to {n} shuffle stages"


def test_salted_join_stays_shuffled_on_salt_keys(spark):
    """q_join_salted only demonstrates skew mitigation if the join really is
    a shuffled join keyed by (custkey, salt) — auto-broadcast of the exploded
    dim would collapse the whole technique into a broadcast join and hide a
    regression at real scale."""
    plan = plan_of(spark, "q_join_salted")
    shj = join_lines(plan, "ShuffledHashJoin") + join_lines(plan, "SortMergeJoin")
    salted = [ln for ln in shj if "_salt" in ln]
    assert salted, "salted join lost its shuffled (key, salt) form:\n" + plan[:1500]


def test_ivf_knn_broadcasts_probe_only(spark):
    """q_sim_ivf_knn must broadcast the 1-row probe (cell + vector), never
    the corpus side, and keep the rank-limited top-k plan."""
    plan = plan_of(spark, "q_sim_ivf_knn")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan


def test_cdc_diff_is_single_join_no_window(spark):
    """The CDC diff must stay ONE full-outer join on the snapshot key plus
    row-local classification — a window or second join here would turn the
    incremental-load primitive into a multi-pass job at 100 TB."""
    plan = plan_of(spark, "q_cdc_diff")
    joins = sum(
        plan.count(k) for k in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert joins == 1, f"CDC diff grew to {joins} joins:\n{plan[:1500]}"
    assert "Window" not in plan


def test_chunking_is_shuffle_free(spark):
    """Chunking is a row-local fan-out (sequence + posexplode + substring):
    any exchange in this plan means a 100 TB chunking pass would shuffle the
    whole corpus for nothing."""
    from recsys_spark_spark.plans.audit import executed_plan, shuffle_stage_count

    df = QUERIES["q_chunk_fixed"](spark, SF_SMOKE)
    assert shuffle_stage_count(executed_plan(df, materialize=True)) == 0


def test_quantize_is_shuffle_free(spark):
    """int8 quantization is per-row array math — must compile to a pure scan."""
    from recsys_spark_spark.plans.audit import executed_plan, shuffle_stage_count

    df = QUERIES["q_embed_quantize"](spark, SF_SMOKE)
    assert shuffle_stage_count(executed_plan(df, materialize=True)) == 0


def test_packing_windows_are_bucket_partitioned(spark):
    """Sequence packing must never fall into a global (unpartitioned) window —
    that would funnel the whole corpus through one task. The running sum has
    to be keyed by the hash bucket."""
    plan = plan_of(spark, "q_pack_sequences")
    assert "Window" in plan
    for ln in plan.splitlines():
        if "Window [" in ln:
            assert "bucket" in ln, f"packing window lost its bucket key: {ln}"


def test_minhash_exact_never_goes_allpairs(spark):
    """The exact MinHash-LSH must generate candidates through the banded
    bucket join — a CartesianProduct means the O(n·bands) scale story
    collapsed to O(n²) — and must read the persisted signature table (the
    materialized-artifact shape): without it every consumer branch replays
    the full shingle→hash→min chain (observed as 6 duplicated lane joins)."""
    plan = plan_of(spark, "q_dedup_minhash_exact")
    assert "CartesianProduct" not in plan
    # all three signature consumers (banding, both agreement sides) must read
    # the cache — the plan PRINT repeats the cached subtree under each
    # InMemoryTableScan, so count cache reads, not the lane-fanout joins
    assert plan.count("InMemoryTableScan") >= 3, "signature table not persisted"


def test_popularity_rec_broadcasts_candidates_not_users(spark):
    """q_cf_popularity_rec must broadcast the POP_CANDIDATES-row top list,
    and its seen-filter must keep the flagship's membership-test shape:
    array_contains over a shuffled-hash user_id join — never a broadcast
    join keyed by user_id (user-history-scale data through the driver)."""
    plan = plan_of(spark, "q_cf_popularity_rec")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "array_contains" in plan, "popularity lost its seen-membership filter"
    bad = [ln for ln in join_lines(plan, "BroadcastHashJoin") if "user_id" in ln]
    assert not bad, "a user_id-keyed join reverted to broadcast:\n" + "\n".join(bad)


def test_vocab_build_topn_is_take_ordered(spark):
    """The vocabulary global top-N must be TakeOrderedAndProject (never a
    full sort), and the id-assigning window must consume the LIMIT's output
    (VOCAB_SIZE rows) — in the plan tree the Window node sits ABOVE the
    TakeOrderedAndProject, i.e. appears earlier in the explain text. A
    window below the limit would rank the whole corpus in one partition."""
    plan = plan_of(spark, "q_vocab_build")
    assert "TakeOrderedAndProject" in plan
    assert "Window" in plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), (
        "id-assigning window moved below the limit — it would rank the full corpus"
    )


def test_dpp_prunes_fact_partitions_at_runtime(spark):
    """q_join_dpp's fact scan must carry a dynamicpruning subquery on the
    partition column — the runtime partition-skip that makes a
    date-partitioned 100 TB fact join read only the dim-selected
    partitions. Without it the partitioned layout decays to a full scan."""
    plan = plan_of(spark, "q_join_dpp")
    assert "dynamicpruning" in plan.lower(), (
        "dynamic partition pruning did not fire:\n" + plan[:1500]
    )


def test_bucketed_join_has_no_join_exchange(spark):
    """q_join_bucketed pays the shuffle at write time (bucketBy) so the join
    itself must read co-located buckets: both scans report Bucketed: true
    and no exchange keyed by the join key may appear — the post-aggregation
    exchange on the grouping key is the only shuffle allowed."""
    plan = plan_of(spark, "q_join_bucketed")
    assert plan.count("Bucketed: true") >= 2, plan[:1200]
    bad = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
        and ("o_orderkey" in ln or "l_orderkey" in ln)
    ]
    assert not bad, "bucketed join re-shuffled its join key:\n" + "\n".join(bad)


def test_dpp_layout_refreshes_when_source_changes(spark, tmp_path):
    """The q_join_dpp partitioned-layout cache is keyed by a fingerprint of
    the SOURCE parquet (mtime+size), not just its path: regenerating testdata
    at the same path must produce a fresh layout, not serve stale partitions
    while the oracle reads the new file (ADVICE round 3)."""
    import shutil

    from recsys_spark_spark.operators.extras import dpp_layout, q_join_dpp

    sf = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    shutil.copy("/root/testdata/sf0.001/orders.parquet", sf + "/orders.parquet")
    try:
        before = {(r.o_year, r.n_orders) for r in q_join_dpp(spark, sf).collect()}

        # regenerate the source at the SAME path with half the rows
        import pandas as pd

        pdf = pd.read_parquet(sf + "/orders.parquet")
        pdf.iloc[: len(pdf) // 2].to_parquet(sf + "/orders.parquet", index=False)
        after = {(r.o_year, r.n_orders) for r in q_join_dpp(spark, sf).collect()}
        assert before != after, "stale partitioned layout served after source regeneration"
    finally:
        shutil.rmtree(dpp_layout(sf), ignore_errors=True)


def test_jdbc_scan_pushes_filter_and_partitions(spark):
    """q_jdbc_roundtrip's read side must be a 4-partition JDBC scan with the
    c_nationkey predicate pushed INTO the database — the parallel-pull +
    DB-side-filter contract of a production JDBC dimension sync."""
    plan = plan_of(spark, "q_jdbc_roundtrip")
    assert "JDBCRelation" in plan, plan[:1200]
    assert "numPartitions=4" in plan, plan[:1200]
    assert "PushedFilters:" in plan and "LessThan(c_nationkey,10)" in plan.replace(" ", ""), (
        plan[:1500]
    )


def test_item_transitions_topk_avoids_global_sort(spark):
    """q_item_transitions' final top-k must be rank-limited
    (TakeOrderedAndProject or WindowGroupLimit), not a full global sort of
    the transition table — at 100 TB the transition table is items^2-sized
    in the worst case."""
    plan = plan_of(spark, "q_item_transitions")
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan, plan[:1200]


def test_pagerank_reuses_persisted_edges(spark):
    """Each q_graph_pagerank iteration joins the persisted edge list against
    BROADCAST node-sized state and localCheckpoints the result, so
    per-iteration work runs eagerly in node-sized jobs (the edge table is
    scanned in place, never shuffled) and the final plan must
    read the checkpointed rank vector — a Scan ExistingRDD, NOT a replay of
    the user-keyed self-join lineage (the before-plan was 369 KB of
    duplicated co-occurrence subtrees; any join operator reappearing in the
    final plan means the checkpoint was dropped)."""
    plan = plan_of(spark, "q_graph_pagerank")
    assert "Scan ExistingRDD" in plan, plan[:1200]
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "crossJoin"):
        assert op not in plan, plan[:1200]


def test_interval_join_is_banded_equi_not_cartesian(spark):
    # the overlap join must ride the hour-band equi key: a BNLJ/cartesian
    # here means the banding decomposition was lost and the plan is O(n^2)
    plan = plan_of(spark, "q_join_interval")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_join_blocks_before_levenshtein(spark):
    # the only join operators allowed are equi-joins on the block key; the
    # distance predicate then can only be a post-join filter on candidates
    plan = plan_of(spark, "q_join_fuzzy")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rank_fusion_prunes_before_fusing(spark):
    # both input rankings are depth-limited BEFORE the fusion join: the
    # rank <= N predicate must survive as a WindowGroupLimit or a filter
    # over row_number, never a full-corpus sort feeding the join
    plan = plan_of(spark, "q_rank_fusion")
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_active_users_rolling_is_single_day_keyed_shuffle(spark):
    # the x7 contribution explode must not introduce a join back to events:
    # one distinct, one explode, day-keyed aggregates only
    plan = plan_of(spark, "q_active_users")
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan or "explode" in plan.lower()


def test_redact_is_shuffle_free(spark):
    plan = plan_of(spark, "q_text_redact")
    assert shuffle_stage_count(plan) == 0


def test_bloom_join_injects_runtime_filter(spark):
    # under the pinned confs the fact scan must carry a might_contain()
    # predicate fed by a bloom_filter_agg over the filtered dim's keys
    from recsys_spark_spark.operators.joins import (
        _BLOOM_CONFS,
        bloom_join_builder,
        pinned_confs,
    )

    with pinned_confs(spark, _BLOOM_CONFS):
        plan = executed_plan(bloom_join_builder(spark, SF_SMOKE))
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan


def test_regional_revenue_broadcasts_true_dims_only(spark):
    # Q5 shape: the three TRUE dims (supplier/nation/region) broadcast via
    # explicit hints; customer (a scaling table) must NOT carry a forced
    # broadcast — with auto-broadcast disabled it has to arrive through a
    # keyed exchange (SortMergeJoin), proving no un-demotable hint is pinned
    # on it. Never a cartesian.
    from recsys_spark_spark.operators.joins import pinned_confs

    with pinned_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plan = plan_of(spark, "q_join_regional_revenue")
    assert plan.count("BroadcastHashJoin") >= 3  # s, n, r keep their hints
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan  # customer
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ntile_family_is_distributed(spark):
    # q_quantile_bins and q_window_ntile must compute their global ranks
    # through the bucketed global_rank helper — every window partitioned
    # by the bucket key, never an unpartitioned NTILE
    for name in ("q_quantile_bins", "q_window_ntile"):
        plan = plan_of(spark, name)
        window_lines = [
            ln
            for ln in plan.splitlines()
            if "Window" in ln and "windowspecdefinition" in ln
        ]
        assert window_lines, name
        assert all("_bkt" in ln for ln in window_lines), (name, window_lines)
        assert "CartesianProduct" not in plan, name


def test_sort_multi_rank_is_distributed(spark):
    # the global position must NOT come from an unpartitioned window: every
    # Window node carries the bucket partition key, and the only join shapes
    # are the tiny broadcast offset joins + the triangular counts join
    from recsys_spark_spark.plans.audit import join_lines

    plan = plan_of(spark, "q_sort_multi")
    window_lines = [ln for ln in plan.splitlines() if "Window" in ln and "windowspecdefinition" in ln]
    assert window_lines, "expected a Window node"
    assert all("_bkt" in ln for ln in window_lines), window_lines
    assert "CartesianProduct" not in plan


def test_corpus_mix_is_shuffle_free(spark):
    # mixing membership is a pure per-row expression — a filtered scan
    plan = plan_of(spark, "q_corpus_mix")
    assert shuffle_stage_count(plan) == 0
    assert "CartesianProduct" not in plan


def test_weighted_sample_topk_is_rank_limited(spark):
    # the global top-K by priority must be rank-pruned, not a full sort
    plan = plan_of(spark, "q_sample_weighted")
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan


def test_negative_sampling_seen_filter_is_anti_join(spark):
    plan = plan_of(spark, "q_sample_negatives")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_incremental_cooc_has_no_cartesian(spark):
    # the four decomposition terms are flag slices of ONE user-keyed equi
    # self-join (restructured from 4 separate joins after the r5 replay
    # OOM) — so the plan must stay equi-join-only and the flagged pair
    # aggregate must appear exactly once
    plan = plan_of(spark, "q_cf_incremental_cooc")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("a_new") >= 1  # flags survive into the grouped terms


def test_assoc_rules_pairs_ride_basket_key(spark):
    # the pair self-join must be an equi-join on the basket (order) key;
    # marginals broadcast; top-25 rank-pruned
    plan = plan_of(spark, "q_assoc_rules")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan


def test_seq_windows_is_one_sorted_pass(spark):
    # sliding windows come from LEAD over one user-keyed sort — no
    # self-join, no explode
    plan = plan_of(spark, "q_seq_windows")
    # the only join allowed is inside the shared first-seen build
    # (orders x lineitem); the windowing itself adds none
    assert "CartesianProduct" not in plan
    assert "Generate" not in plan  # no explode
    assert "Window" in plan


def test_slope_one_broadcasts_model_not_users(spark):
    """q_cf_slope_one must follow the flagship's partitioning discipline:
    the pruned deviation model (items x K rows) is the ONLY broadcast —
    scoring, the array-membership seen-filter, and the top-N window all
    ride HashPartitioning(user_id). A user_id-keyed broadcast would
    serialize user-history-sized data through the driver (the exact
    failure mode test_flagship_seen_filter_never_broadcasts guards)."""
    plan = plan_of(spark, "q_cf_slope_one")
    assert "array_contains" in plan, "slope one lost its seen-membership filter"
    assert join_lines(plan, "BroadcastHashJoin"), (
        "deviation model is no longer broadcast"
    )
    bad = [ln for ln in join_lines(plan, "BroadcastHashJoin") if "user_id" in ln]
    assert not bad, (
        "a user_id-keyed slope-one join reverted to broadcast:\n" + "\n".join(bad)
    )


def test_correlated_subqueries_are_decorrelated(spark):
    """q_sql_correlated's scalar + EXISTS subqueries must be rewritten into
    joins at plan time — a surviving per-row subquery execution node would
    re-run the inner query once per outer row (fatal at any real scale).
    After decorrelation the plan is joins + aggregate only."""
    plan = plan_of(spark, "q_sql_correlated")
    residue = plan.replace("SubqueryBroadcast", "")
    assert "Subquery" not in residue, (
        "a per-row subquery node survived decorrelation:\n" + plan[:1500]
    )
    assert any(
        k in plan for k in ("LeftSemi", "ExistenceJoin")
    ), "EXISTS was not rewritten to a semi join"


def test_graph_jaccard_topk_is_group_limited(spark):
    # the per-vertex top-10 must prune executor-side (keyed rank filter
    # -> WindowGroupLimit), and candidate generation must stay a keyed
    # wedge join — never a cartesian product
    plan = plan_of(spark, "q_graph_jaccard")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_rfm_ranks_are_distributed(spark):
    # all three quintile ranks ride the value-bucketed global_rank: every
    # Window node carries the bucket partition key (no unpartitioned
    # customer-wide sort), and the only unkeyed joins are the 1-row
    # broadcast attaches (max date, n, bucket bounds/offsets)
    plan = plan_of(spark, "q_rfm_segmentation")
    window_lines = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "windowspecdefinition" in ln
    ]
    assert window_lines, "expected Window nodes for the three ranks"
    assert all("_bkt" in ln for ln in window_lines), window_lines
    assert "CartesianProduct" not in plan


def test_stats_tests_fold_before_broadcast(spark):
    # the t-test / two-proportion plans must reduce facts to the keyed
    # aggregate BEFORE any join: no sort-merge join of fact-scale rows,
    # totals arrive via broadcast
    for name in ("q_stat_ttest", "q_stat_twoprop", "q_drift_psi"):
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_part_abc_prefix_sum_is_distributed(spark):
    # the cumulative revenue must ride the value-bucketed prefix sum:
    # every Window node carries the bucket key — never an unpartitioned
    # global running-total window
    plan = plan_of(spark, "q_part_abc")
    window_lines = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "windowspecdefinition" in ln
    ]
    assert window_lines, "expected a Window node for the running sum"
    assert all("_bkt" in ln for ln in window_lines), window_lines
    assert "CartesianProduct" not in plan


def test_interval_concurrency_prefix_sum_is_distributed(spark):
    # the sweep-line running count rides the value-bucketed prefix sum —
    # every Window node carries the bucket key, never a global window;
    # the fact pass is one keyed day-level aggregate
    plan = plan_of(spark, "q_interval_concurrency")
    window_lines = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "windowspecdefinition" in ln
    ]
    assert window_lines, "expected a Window node for the running count"
    assert all("_bkt" in ln for ln in window_lines), window_lines
    assert "CartesianProduct" not in plan


def test_mannwhitney_rank_prefix_is_distributed(spark):
    # rank prefix = bucketed prefix sum over the VALUE table (like KS);
    # the closed form folds on one reduced row
    plan = plan_of(spark, "q_stat_mannwhitney")
    window_lines = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "windowspecdefinition" in ln
    ]
    assert window_lines
    assert all("_bkt" in ln for ln in window_lines), window_lines
    assert "CartesianProduct" not in plan


def test_feature_covariance_single_scan(spark):
    # the whole matrix comes from ONE aggregate pass over lineitem —
    # one scan, partial aggregation map-side, no join anywhere
    plan = plan_of(spark, "q_feature_covariance")
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_pattern_rising_runs_windows_are_partitioned(spark):
    # both the lag and the running break-sum ride the customer partition
    plan = plan_of(spark, "q_pattern_rising_runs")
    window_lines = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "windowspecdefinition" in ln
    ]
    assert window_lines
    assert all("c#" in ln for ln in window_lines), window_lines


def test_glm_newton_betas_broadcast_not_collected(spark):
    # each Newton step's beta is a 1-row BROADCAST frame feeding the next
    # aggregate pass: K fact scans, K broadcast exchanges, zero driver
    # round-trips (no LocalTableScan of a collected beta)
    from recsys_spark_spark.operators.stats import GLM_STEPS

    plan = plan_of(spark, "q_glm_logistic_newton")
    assert plan.count("Scan parquet") == GLM_STEPS + 1  # K passes + count
    assert plan.count("BroadcastExchange") >= GLM_STEPS
    assert "CartesianProduct" not in plan


def test_array_lambda_is_shuffle_free(spark):
    # higher-order lambdas are row-local codegen — zero exchanges
    from recsys_spark_spark.plans.audit import executed_plan, shuffle_stage_count

    df = QUERIES["q_array_lambda"](spark, SF_SMOKE)
    assert shuffle_stage_count(executed_plan(df, materialize=True)) == 0


def test_ts_decompose_windows_ride_series_key(spark):
    # the trend frame and everything after the day-level aggregate is
    # partitioned by event_type; the seasonal table arrives via broadcast
    plan = plan_of(spark, "q_ts_decompose")
    window_lines = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "windowspecdefinition" in ln
    ]
    assert window_lines
    assert all("t#" in ln for ln in window_lines), window_lines
    assert "BroadcastHashJoin" in plan


def test_asof_nearest_single_user_sort(spark):
    # both carries (backward last_value, forward first_value) ride ONE
    # user-partitioned sort — no join anywhere in the plan
    plan = plan_of(spark, "q_join_asof_nearest")
    assert "Join" not in plan
    window_lines = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "windowspecdefinition" in ln
    ]
    assert window_lines
    assert all("user_id" in ln for ln in window_lines), window_lines


def test_activity_streaks_one_user_keyed_chain(spark):
    # islands trick: day-distinct -> row_number -> island agg -> rollup,
    # all user-partitioned; no join, no global window
    plan = plan_of(spark, "q_activity_streaks")
    assert "Join" not in plan
    window_lines = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "windowspecdefinition" in ln
    ]
    assert all("u#" in ln for ln in window_lines), window_lines


def test_eigencentrality_topk_is_group_limited(spark):
    # the node-sized final rank must be WindowGroupLimit-pruned and the
    # per-iteration norm must arrive via broadcast, never a cartesian
    plan = plan_of(spark, "q_graph_eigencentrality")
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_baseline_bias_topk_is_group_limited(spark):
    """q_cf_baseline_bias ends in a global (no partitionBy) row_number over
    all scored interactions; safe only while WindowGroupLimit pre-prunes
    each partition to the top-20 before the singleton exchange."""
    plan = plan_of(spark, "q_cf_baseline_bias")
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan, (
        "rank-limit pushdown did not fire on the baseline residual head:\n"
        + plan.split("+- Project")[0]
    )


def test_theilsen_pair_join_is_keyed_not_cartesian(spark):
    """q_stat_theilsen's pairwise-slope join must stay an equi-join on
    event_type (days² per series, calendar-bounded) — a cartesian over the
    daily table would square the SERIES COUNT too."""
    plan = plan_of(spark, "q_stat_theilsen")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_span_dedup_is_keyed_no_pair_join(spark):
    """q_text_span_dedup's cost claim is O(total tokens): span-hash keyed
    aggregate + rejoin, NEVER a doc-pair join. A cartesian or
    nested-loop join here is the all-pairs blow-up the span-frequency
    design exists to avoid."""
    plan = plan_of(spark, "q_text_span_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_ngram_broadcasts_benchmark_side(spark):
    """q_text_contamination_ngram's membership test joins train grams to
    the (small) benchmark gram set — that side must broadcast, and there
    must be no pair join anywhere."""
    plan = plan_of(spark, "q_text_contamination_ngram")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_cms_cells_broadcast_and_estimate_join(spark):
    """The 4x8192 cell grid must reach the estimate join as a broadcast
    (model-to-data), and the global top-20 head must sit on the REDUCED
    per-item aggregate, never raw lineitem (HashAggregate below the
    single-partition Window — the pattern the repo's global-window
    policy allows; empty-partition windows never get WindowGroupLimit,
    verified against Spark 4.1's InferWindowGroupLimit)."""
    plan = plan_of(spark, "q_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    head = plan.split("Window", 1)[1]
    assert "HashAggregate" in head  # window input is the aggregate, not the scan


def test_pq_adc_distance_table_broadcast(spark):
    """ADC's query->codeword table joins the code scan broadcast; the
    per-query top-k IS WindowGroupLimit-pruned (partitioned by qid)."""
    plan = plan_of(spark, "q_sim_pq_adc")
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_rake_word_scores_broadcast(spark):
    """Word scores broadcast onto the phrase table; the global top-20
    head sits on the phrase aggregate (vocabulary-sized), not raw docs."""
    plan = plan_of(spark, "q_text_rake")
    assert "BroadcastHashJoin" in plan
    head = plan.split("Window", 1)[1]
    assert "HashAggregate" in head


def test_swing_no_cartesian_and_reduced_top(spark):
    """Every Swing stage is a keyed join — a BroadcastNestedLoopJoin
    would mean the pair join lost its keys; the top-50 head sits on the
    (i,j)-aggregated pair table."""
    plan = plan_of(spark, "q_cf_swing")
    assert "BroadcastNestedLoopJoin" not in plan
    head = plan.split("Window", 1)[1]
    assert "HashAggregate" in head


def test_components_star_rounds_truncate_lineage(spark):
    """The final component labeling must read the checkpointed star
    forest (LogicalRDD scan), not re-derive 8 rounds of star joins."""
    df = QUERIES["q_graph_components"](spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "Scan ExistingRDD" in plan
    # and the labeling itself is one left join + aggregate, not a chain
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 3
