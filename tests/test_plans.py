"""Physical-plan regression tests: the properties that make the engine
viable at scale must be visible in the executed plan, not assumed.

- filters reach the parquet scan (PushedFilters),
- column pruning reaches the scan (ReadSchema),
- small dimensions broadcast (BroadcastHashJoin, no SortMergeJoin),
- aggregations run map-side partials (partial_count/partial_sum),
- whole-stage codegen covers the hot path.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _executed_plan(df, run: bool = False) -> str:
    if run:
        df.collect()  # finalize the adaptive plan (codegen ids appear)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _executed_plan(entrymod.q_filtered_count(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan
    # plan strings elide long filter lists; DataFilters carries the rest
    assert "l_discount" in plan and "<= 0.05" in plan


def test_column_pruning_reaches_scan(spark):
    plan = _executed_plan(entrymod.q_length_extremes(spark, SF_DIR))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, "no ReadSchema in plan"
    assert "o_orderpriority" in read_schema[0]
    # none of the other five orders columns should be read
    assert "o_totalprice" not in read_schema[0]
    assert "o_orderdate" not in read_schema[0]


def test_star_join_broadcasts_dimensions(spark):
    plan = _executed_plan(entrymod.q_broadcast_join_agg(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_aggregate_is_partial(spark):
    plan = _executed_plan(entrymod.q_uniques_histogram(spark, SF_DIR))
    assert "partial_count" in plan, "no map-side partial aggregation"


def test_minhash_signature_is_partial_min(spark):
    # the k min-aggregates must combine map-side: shuffle O(docs*k),
    # not O(shingles*k)
    plan = _executed_plan(entrymod.q_dedup_simhash(spark, SF_DIR))
    assert "partial_sum" in plan
    # the LSH pair query's plan roots at the materialize_once checkpoint,
    # so assert the map-side combine on the signature stage itself
    from datajudge_spark.pipeline import dedup

    d = entrymod._t(spark, SF_DIR, "documents")
    plan2 = _executed_plan(
        dedup.minhash_signature(d, "doc_id", "text", num_hashes=12, shingle_n=3)
    )
    assert "partial_min" in plan2


def test_whole_stage_codegen_on_hot_path(spark):
    plan = _executed_plan(entrymod.q_filtered_count(spark, SF_DIR), run=True)
    # codegen'd operators carry the *(stage-id) marker in the final plan
    assert "*(1)" in plan, "scan->filter->partial-agg not codegen-fused"


def test_anti_join_stays_join_not_cartesian(spark):
    plan = _executed_plan(entrymod.q_anti_join(spark, SF_DIR))
    assert "Cartesian" not in plan
    assert "LeftAnti" in plan


def test_topk_brute_broadcasts_queries(spark):
    plan = _executed_plan(entrymod.q_ann_topk_bruteforce(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_asof_join_single_shuffle(spark):
    # the as-of union+window plan must shuffle exactly once on the key
    # (plus the final collect exchange); no join operator at all
    plan = _executed_plan(entrymod.q_asof_join(spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2

def test_topk_is_take_ordered_not_global_sort(spark):
    # orderBy().limit() must compile to TakeOrderedAndProject
    # (per-partition heaps + driver merge), never a global Sort
    plan = _executed_plan(entrymod.q_topk_revenue(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan or "TakeOrderedAndProject" in plan.split("Sort [")[0]


def test_rollup_single_expand_pass(spark):
    # ROLLUP runs as one Expand + one aggregate pass over the scan,
    # not one scan per grouping level
    plan = _executed_plan(entrymod.q_rollup_agg(spark, SF_DIR))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_cross_cdf_no_single_partition_window(spark):
    # cross-CDF on a near-unique (continuous-like) column must not funnel
    # the distinct-value histogram through one partition: the construction
    # range-partitions the union histogram and windows WITHIN partitions.
    from datajudge_spark.operators.stats import get_cross_cdf
    from datajudge_spark.reference import DataReference
    from datajudge_spark.sources import ExpressionDataSource

    d1 = spark.range(0, 5000).selectExpr("cast(id * 1.7 as double) as v")
    d2 = spark.range(0, 5000).selectExpr("cast(id * 2.3 + 0.5 as double) as v")
    ref1 = DataReference(ExpressionDataSource(d1, "a"), ["v"])
    ref2 = DataReference(ExpressionDataSource(d2, "b"), ["v"])
    filled, c1, c2 = get_cross_cdf(spark, ref1, ref2)
    plan = _executed_plan(filled)
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" in plan  # the bounded per-partition cumsum remains


def test_profile_two_clean_scans_exact_mode(spark):
    # exact mode: plain stats + distinct counts as TWO clean aggregates
    # (one read of the shared cached projection each) cross-joined —
    # never the pathological combined RewriteDistinctAggregates plan
    # (see operators/profile.py docstring).  Pinned on the cache reads
    # rather than the raw "Scan parquet" string count: a finalized
    # AQE-planned InMemoryRelation prints its initial AND final child
    # plans, so the FileScan text count depends on whether an earlier
    # query already materialized the shared cache entry.
    plan = _executed_plan(entrymod.q_profile_table(spark, SF_DIR))
    assert plan.count("InMemoryTableScan") == 2, plan


def test_profile_approx_mode_single_scan(spark):
    from datajudge_spark.operators.profile import profile_numeric

    li = entrymod._t(spark, SF_DIR, "lineitem")
    plan = _executed_plan(
        profile_numeric(li, ["l_quantity", "l_tax"], exact_distinct=False)
    )
    assert plan.count("Scan parquet") == 1
    assert "Expand" not in plan


def test_corr_matrix_single_scan_no_join(spark):
    plan = _executed_plan(entrymod.q_corr_matrix(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_grouped_topk_window_group_limit(spark):
    # row_number()<=k must prune per-partition BEFORE the shuffle
    # (WindowGroupLimit), so the exchange carries O(groups*k) rows
    plan = _executed_plan(entrymod.q_grouped_topk(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_psi_drift_single_scan(spark):
    # both population histograms must come from ONE conditional-agg scan
    plan = _executed_plan(entrymod.q_psi_drift(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1


def test_moving_avg_window_runs_on_daily_frame(spark):
    # the ordered (single-partition) window must consume the DAILY
    # aggregate (calendar-bounded rows), never the raw fact scan
    plan = _executed_plan(entrymod.q_moving_avg_daily(spark, SF_DIR))
    assert "Window" in plan
    # tree prints consumers first: Window must sit ABOVE the daily
    # aggregate, i.e. it consumes aggregated rows, not the raw scan
    assert plan.index("Window") < plan.index("HashAggregate")
    # map-side partial aggregation of the daily totals
    assert "partial_sum" in plan


def test_salted_join_joins_on_salt(spark):
    # the physical join keys must include the salt column — each hot
    # key's rows split across num_salts reducers
    plan = _executed_plan(entrymod.q_salted_join_agg(spark, SF_DIR))
    assert "__salt" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_key_skew_no_window_two_aggregates(spark):
    # entropy/HHI via c-sum identities: per-key counts then one folded
    # aggregate — NO window, so no |distinct|-row single-partition stage
    # even on a high-cardinality key
    plan = _executed_plan(entrymod.q_key_skew(spark, SF_DIR))
    assert "Window" not in plan
    assert plan.count("Scan parquet") == 1
    assert "partial_count" in plan


def test_editdistance_blocked_equijoin_not_cartesian(spark):
    # prefix blocking must compile to a hash equi-join, never
    # BroadcastNestedLoop/Cartesian over the corpus
    plan = _executed_plan(entrymod.q_dedup_editdistance(spark, SF_DIR))
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_equijoin_not_nested_loop(spark):
    # bucketized interval join must be a hash equi-join on
    # (bucket, key), never the theta join's BroadcastNestedLoopJoin
    plan = _executed_plan(entrymod.q_range_join(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Cartesian" not in plan


def test_latest_snapshot_window_group_limit(spark):
    # row_number()=1 compaction must prune to 1 row/key map-side
    # (WindowGroupLimit) so the exchange carries O(|keys|) rows
    plan = _executed_plan(entrymod.q_latest_snapshot(spark, SF_DIR))
    # Partial limit below the key exchange + Final above it
    assert "WindowGroupLimit" in plan
    after_exchange = plan.split("Exchange hashpartitioning", 1)[-1]
    assert "WindowGroupLimit" in after_exchange and "Partial" in after_exchange


def test_heavy_hitters_broadcasts_total(spark):
    # the 1-row total joins in via broadcast; the count aggregate is
    # partial (map-side combine before the key shuffle)
    plan = _executed_plan(entrymod.q_heavy_hitters(spark, SF_DIR))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "partial_count" in plan


def test_cube_single_expand_pass(spark):
    # CUBE runs as one Expand + one aggregate pass over the scan,
    # not one scan per grouping set
    plan = _executed_plan(entrymod.q_cube_agg(spark, SF_DIR))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_sketch_checks_scan_bounds(spark):
    # distinct check: exact + approx aggregates share ONE scan.
    plan = _executed_plan(entrymod.q_approx_distinct_check(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    # percentile check: the exact side is the two-pass range-bucketed
    # percentile (deliberately NOT the single-buffer percentile()
    # aggregate), so up to 3 bounded scans; the exact/approx combine is
    # a broadcast of 1-row aggregates, never a real shuffle join.
    plan = _executed_plan(entrymod.q_approx_percentile_check(spark, SF_DIR))
    assert plan.count("Scan parquet") <= 3, plan
    assert "Exchange SinglePartition" in plan or "BroadcastExchange" in plan


def test_ewma_equijoin_not_range_join(spark):
    # the lookback contribution join must be a hash equi-join on
    # date_sub(day, k), never a theta/range join over the daily frame
    plan = _executed_plan(entrymod.q_ewma_daily(spark, SF_DIR))
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gap_fill_no_fact_table_window(spark):
    # the forward-fill window orders the calendar spine (bounded), and
    # the spine itself comes from a 1-row bound aggregate — the events
    # scan feeds only the daily aggregate
    plan = _executed_plan(entrymod.q_gap_fill_daily(spark, SF_DIR))
    assert "Window" in plan
    assert plan.count("Scan parquet") <= 2


def test_norm_stats_single_scan_no_udf(spark):
    # per-row fold + one partial-agg'd shuffle: no UDF, no second scan
    plan = _executed_plan(entrymod.q_embedding_norm_stats(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_srp_hist_single_scan_no_udf(spark):
    plan = _executed_plan(entrymod.q_srp_signature_hist(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_srp_neardup_blocked_equijoin(spark):
    # SRP bucketing must make the pair join a hash equi-join on the
    # signature — never an all-pairs nested loop over the corpus
    plan = _executed_plan(entrymod.q_srp_neardup_pairs(spark, SF_DIR))
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q3_pushdown_broadcast_takeordered(spark):
    plan = _executed_plan(entrymod.q_shipping_priority_topk(spark, SF_DIR))
    # both date predicates reach the scans; customer broadcasts; the
    # top-10 is per-partition heaps, not a global sort
    assert "PushedFilters" in plan and "1995-03-1" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q5_dimensions_broadcast(spark):
    plan = _executed_plan(entrymod.q_revenue_by_nation(spark, SF_DIR))
    # supplier/nation/region broadcast; only the fact-sized joins may
    # shuffle
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Cartesian" not in plan


def test_running_distinct_users_no_fact_window(spark):
    # first-seen min + daily counts are partial-agg'd; the cumulative
    # window runs on the daily frame above the aggregates
    plan = _executed_plan(entrymod.q_running_distinct_users(spark, SF_DIR))
    assert "partial_min" in plan or "partial_count" in plan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_scd2_single_key_shuffle(spark):
    # the interval construction shuffles once on the user key; the
    # lead() window sorts locally within partitions (no global sort)
    plan = _executed_plan(entrymod.q_scd2_intervals(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan.split("Window")[-1]
    assert plan.count("Scan parquet") == 1


def test_incremental_merge_two_partial_scans(spark):
    # both branches aggregate before the union; the final combine
    # shuffles day-rows, with map-side partials throughout
    plan = _executed_plan(entrymod.q_incremental_daily_merge(spark, SF_DIR))
    assert plan.count("Scan parquet") == 2
    assert "partial_sum" in plan
    assert "Union" in plan


def test_percentile_bands_bounded_scans(spark):
    # any number of targets shares the probe, the bucket histogram and
    # ONE final aggregate over the target buckets' rows: one source
    # scan, never one per percentile, and no window
    plan = _executed_plan(entrymod.q_percentile_bands(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    assert "Window" not in plan, plan


def test_fk_integrity_anti_join_on_deduped_parent(spark):
    plan = _executed_plan(entrymod.q_fk_integrity(spark, SF_DIR))
    assert "Cartesian" not in plan
    assert "LeftAnti" in plan
    # parent side is de-duplicated before the join (HashAggregate on the
    # key projection), so the shuffle carries |distinct keys| rows
    assert "HashAggregate" in plan


def test_json_extract_stays_jvm_side(spark):
    plan = _executed_plan(entrymod.q_json_extract_agg(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_event_transitions_partitioned_window(spark):
    # the lead() window must be partitioned by user_id — never a global
    # single-partition sort
    plan = _executed_plan(entrymod.q_event_transitions(spark, SF_DIR))
    assert "partitionBy=[user_id" in plan.replace(" ", "") or "user_id" in plan
    assert "TakeOrderedAndProject" in plan


def test_gini_window_partitioned_by_bucket(spark):
    # rank cumulative must run in bucket-partitioned windows — a global
    # ordered window would be a single-partition stage on near-unique
    # per-customer revenue
    plan = _executed_plan(entrymod.q_gini_revenue(spark, SF_DIR))
    win_lines = [ln for ln in plan.splitlines() if "Window " in ln]
    assert win_lines, "no Window operator in gini plan"
    for ln in win_lines:
        assert "__b" in ln, f"unpartitioned window: {ln}"


def test_mann_whitney_window_partitioned_by_bucket(spark):
    plan = _executed_plan(entrymod.q_mann_whitney(spark, SF_DIR))
    win_lines = [ln for ln in plan.splitlines() if "Window " in ln]
    assert win_lines, "no Window operator in mann-whitney plan"
    for ln in win_lines:
        assert "__b" in ln, f"unpartitioned window: {ln}"


def test_chi_squared_stays_jvm_side(spark):
    # cross join exists but ONLY between the two tiny margin aggregates;
    # the fact table is scanned once into the cell counts
    plan = _executed_plan(entrymod.q_chi_squared(spark, SF_DIR))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial_count" in plan


def test_grouping_sets_single_expand_pass(spark):
    # GROUPING SETS is one Expand over one scan — not three UNIONed scans
    plan = _executed_plan(entrymod.q_grouping_sets_agg(spark, SF_DIR))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_unpivot_is_map_side_expand(spark):
    plan = _executed_plan(entrymod.q_unpivot_metrics(spark, SF_DIR))
    assert "Expand" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_embedding_centroids_jvm_explode(spark):
    plan = _executed_plan(entrymod.q_embedding_centroids(spark, SF_DIR))
    assert "Generate posexplode" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_association_rules_copartitioned_self_join(spark):
    # the pair join must be an equi-join on the basket key — never a
    # cartesian/nested-loop over baskets
    plan = _executed_plan(entrymod.q_association_rules(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the only nested-loop join is the 1-row basket-count broadcast;
    # the basket self-join itself is an equi-join
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _assert_windows_bucketed(plan: str):
    # every ordered window must be partitioned by the range-bucket id —
    # NO unpartitioned (single-partition) window anywhere in the plan
    win_lines = [ln for ln in plan.splitlines() if "Window " in ln]
    assert win_lines, plan
    for ln in win_lines:
        assert "__b" in ln, f"unpartitioned window: {ln}"


class _force_bucketed_survival:
    """Context manager: force the survival-family scaffold onto its
    bucketed path (the measured small-frame fast path would otherwise
    engage at sf0.001 — a few hundred distinct durations — and the
    plan under test would be the bounded single-partition shortcut,
    not the scale path these pins certify)."""

    def __enter__(self):
        import datajudge_spark.operators.timeseries as ts

        self._ts, self._old = ts, ts.SMALL_SURVIVAL_FRAME
        ts.SMALL_SURVIVAL_FRAME = 0
        return self

    def __exit__(self, *exc):
        self._ts.SMALL_SURVIVAL_FRAME = self._old
        return False


def test_kaplan_meier_window_over_durations(spark):
    # the cumulative runs over the distinct-duration aggregate (its
    # input is a HashAggregate), never over raw subjects — and on the
    # scale path every window is bucket-partitioned (timestamp-grain
    # durations stay parallel)
    with _force_bucketed_survival():
        plan = _executed_plan(entrymod.q_kaplan_meier(spark, SF_DIR))
    _assert_windows_bucketed(plan)
    assert "partial_count" in plan or "partial_sum" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_survival_fast_path_is_measured_and_value_identical(spark):
    # at sf0.001 the duration histogram measures a few hundred rows, so
    # the scaffold takes the bounded single-partition shortcut — values
    # must be IDENTICAL to the bucketed scale path (exact folds on both)
    fast = sorted(
        map(tuple, entrymod.q_kaplan_meier(spark, SF_DIR).collect())
    )
    with _force_bucketed_survival():
        slow_df = entrymod.q_kaplan_meier(spark, SF_DIR)
        slow_plan = _executed_plan(slow_df)
        slow = sorted(map(tuple, slow_df.collect()))
    assert fast == slow
    _assert_windows_bucketed(slow_plan)


def test_logrank_no_global_window_one_scan(spark):
    # at-risk counts ride the bucketed cumulative whose totals replace
    # the separate group-size scan: events parquet is read once into
    # the persisted histogram, and (scale path) no unpartitioned
    # window exists
    with _force_bucketed_survival():
        plan = _executed_plan(entrymod.queries()["logrank"](spark, SF_DIR))
    _assert_windows_bucketed(plan)
    assert "SortMergeJoin" not in plan


def test_rmst_no_global_window_no_lag(spark):
    # the summation-by-parts fold is a plain aggregate over the KM
    # scaffold: no lag, no unpartitioned window, no last-row sort
    with _force_bucketed_survival():
        plan = _executed_plan(entrymod.queries()["rmst"](spark, SF_DIR))
    _assert_windows_bucketed(plan)
    assert " lag(" not in plan, plan


def test_q10_broadcasts_and_takeordered(spark):
    plan = _executed_plan(entrymod.q10_returned_items(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan  # top-20: no global sort
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation dims
    assert "PushedFilters" in plan
    # the returnflag filter reaches the lineitem scan
    assert "l_returnflag" in plan and "EqualTo(l_returnflag,R)" in plan


def test_q1_filter_pushed_and_partial_agg(spark):
    plan = _executed_plan(entrymod.q1_pricing_summary(spark, SF_DIR))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "l_shipdate" in plan and "PushedFilters" in plan


def test_grouped_median_window_partitioned(spark):
    # the cumulative window must be partitioned by the group — never a
    # global single-partition sort
    plan = _executed_plan(entrymod.q_grouped_median(spark, SF_DIR))
    win_lines = [ln for ln in plan.splitlines() if "Window " in ln]
    assert win_lines
    for ln in win_lines:
        assert "grp" in ln, f"unpartitioned window: {ln}"


def test_spearman_fast_path_no_fact_join_back(spark):
    # quantity has 50 distinct values -> the rank map must BROADCAST and
    # all statistics fold through the price histogram: no SortMergeJoin
    # of the fact-sized pair frame anywhere
    plan = _executed_plan(entrymod.q_spearman(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # offsets ride a literal map, not a join below the window
    assert "map(keys:" in plan


def test_grouped_ks_single_conditional_agg_scan(spark):
    # one histogram aggregation covers ALL groups (conditional counts in
    # a single groupBy — no per-group scans), and every window is
    # partitioned by the range bucket, never global
    plan = _executed_plan(entrymod.q_grouped_ks(spark, SF_DIR))
    agg_lines = [
        ln for ln in plan.splitlines()
        if "HashAggregate" in ln and "partial_count" in ln
    ]
    # the 5 conditional counts + the total live in ONE partial aggregate
    assert any(ln.count("partial_count") >= 6 for ln in agg_lines), (
        "per-group counts not fused into one aggregate"
    )
    for ln in plan.splitlines():
        if "Window " in ln:
            assert "__b" in ln, f"unpartitioned window: {ln}"


def test_theil_sen_pairs_on_daily_frame_only(spark):
    # the quadratic pair join must consume the DAILY aggregate (bounded)
    # as a broadcast, never a partitioned cartesian of the fact table
    plan = _executed_plan(entrymod.q_theil_sen(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # bounded side broadcast
    # the join sides are aggregates of the scan, not the raw scan:
    # daily totals are partial-agg'd before anything quadratic
    assert "partial_sum" in plan


def test_ann_pq_map_only_encode_one_window(spark):
    # encode and LUT scoring are map work; the only shuffle is the
    # per-query top-k window (partitioned by qid), and the candidate
    # frame never sort-merge-joins
    plan = _executed_plan(entrymod.q_ann_topk_pq(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    win_lines = [ln for ln in plan.splitlines() if "Window " in ln]
    assert win_lines
    for ln in win_lines:
        assert "qid" in ln, f"window not per-query: {ln}"


def test_ivf_pq_broadcast_pruned_no_cartesian(spark):
    # the candidate side joins encode<->cell on its id (hash join), the
    # query side broadcasts with its LUT; pruning happens through the
    # cell equi-join — never a full cartesian against the corpus
    plan = _executed_plan(entrymod.q_ann_topk_ivf_pq(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    win_lines = [ln for ln in plan.splitlines() if "Window " in ln]
    assert win_lines
    for ln in win_lines:
        assert "qid" in ln or "cid" in ln, f"unpartitioned window: {ln}"


def test_boilerplate_topk_no_global_sort(spark):
    # corpus-frequency top-k: one fully-partial hash aggregate over the
    # exploded shingles (count(*), so no two-distinct Expand doubling
    # the shuffle) and TakeOrderedAndProject instead of a global sort
    plan = _executed_plan(entrymod.q_boilerplate_ngrams(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_quantile_grid_single_scan_bucketed_windows(spark):
    # one conditional-agg histogram scan serves every (group, decile)
    # cell; all cumulative windows are partitioned by the range bucket
    plan = _executed_plan(entrymod.q_grouped_quantile_grid(spark, SF_DIR))
    agg_lines = [
        ln for ln in plan.splitlines()
        if "HashAggregate" in ln and "partial_count" in ln
    ]
    assert any(ln.count("partial_count") >= 6 for ln in agg_lines)
    for ln in plan.splitlines():
        if "Window " in ln:
            assert "__b" in ln, f"unpartitioned window: {ln}"


def test_triangle_joins_are_hash_not_cartesian(spark):
    # the two-hop triangle join must be hash equi-joins over the edge
    # table — a cartesian or nested-loop would be quadratic in |E|
    plan = _executed_plan(entrymod.q_graph_triangles(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the digest combines two 1-row aggregates: that broadcast NL join
    # of single rows is fine; the edge-level joins must be hash joins
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_mutual_information_cells_cached_margins_broadcast(spark):
    # margins aggregate the CELLS: the cell table is persisted and every
    # consumer (row margin, col margin, grand total, join) reads the
    # cache — the fact table materializes it once.  (FileScan lines
    # repeat textually inside each InMemoryRelation body; the cache
    # reads are what executes.)
    plan = _executed_plan(entrymod.q_mutual_information(spark, SF_DIR))
    assert plan.count("InMemoryTableScan") >= 3, (
        "cell consumers not reading the cached cells"
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q21_semi_anti_hash_joins_no_cartesian(spark):
    # the EXISTS must compile to a left-semi hash join, the NOT EXISTS
    # to a left-anti hash join — both equi on the order key — and the
    # supplier/nation/region chain must broadcast; nothing cartesian
    plan = _executed_plan(entrymod.q21_suppliers_waiting(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_q2_min_cost_join_back_no_cartesian(spark):
    # the decorrelated MIN join-back is an equi hash join on
    # (partkey, cost); part and the supplier chain broadcast
    plan = _executed_plan(entrymod.q2_min_cost_supplier(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_q19_disjunction_stays_residual_on_hash_join(spark):
    # the OR-of-ANDs must be a residual filter on the partkey equi
    # join, not degrade the join to a nested loop over lineitem
    plan = _executed_plan(entrymod.q19_disjunctive_revenue(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_q22_anti_join_and_broadcast_scalar(spark):
    # scalar-avg subquery broadcast + left-anti hash join on custkey
    plan = _executed_plan(entrymod.q22_idle_customers(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_countmin_cells_collapse_map_side(spark):
    # the exploded cell stream must partial-aggregate map-side (the
    # whole point: O(depth*width) shuffle regardless of input size)
    plan = _executed_plan(entrymod.q_countmin_check(spark, SF_DIR))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # probe joins broadcast cells


def test_bloom_probe_is_map_only(spark):
    # the bitmap ships as a map literal: below the probe aggregation
    # there must be no join on the probe path (the truth join is the
    # contract's ground-truth side, a single hash join)
    plan = _executed_plan(entrymod.q_bloom_filter_check(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # bitmap lookups appear as element_at(map(...)) expressions, not joins
    assert "element_at" in plan or "map(" in plan


def test_nonnumeric_percentile_window_is_bucket_bounded(spark):
    # VERDICT r5 weak item: a date/timestamp percentile must NOT feed
    # the whole distinct-value histogram into one unpartitioned window.
    # The proxy path's signature in the plan: the scan carries the
    # least(FLOOR(...)) bucket filter, so the final aggregate collects
    # one bucket's values, not the full domain, and no window runs.
    from datajudge_spark.operators.scalars import exact_percentile_df

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    plan = _executed_plan(exact_percentile_df(df, "o_orderdate", 90.0))
    assert "Window" not in plan, plan
    assert "collect_list" in plan, plan
    assert "least(FLOOR" in plan, plan
    # the bucket filter must sit on the scan feeding the histogram
    assert "DataFilters: [isnotnull(o_orderdate" in plan


def test_q20_nested_semi_join_chain(spark):
    # Q20 shape: two LEFT SEMI hash joins (part filter below the
    # aggregates, candidate suppliers above), share test joins two
    # aggregated frames — never a cartesian, dimensions broadcast
    plan = _executed_plan(entrymod.q20_volume_suppliers(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("LeftSemi") >= 2, plan
    assert "BroadcastHashJoin" in plan
    # both lineitem aggregates run map-side partials
    assert "partial_sum" in plan


def test_q13_left_outer_preserves_zero_customers(spark):
    # the count distribution must include k=0 customers: LEFT OUTER (or
    # RIGHT as planned by Catalyst), never an inner join; two-level agg
    plan = _executed_plan(entrymod.q13_customer_order_counts(spark, SF_DIR))
    assert "Outer" in plan, plan
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_q17_brand_filter_below_both_aggregate_and_probe(spark):
    # the brand semi-filter must prune lineitem BEFORE the per-part
    # stats aggregate and the probe join — never aggregate all parts
    plan = _executed_plan(entrymod.q17_small_quantity_revenue(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan


def test_pareto_window_is_bucket_partitioned(spark):
    # the sweep-line's running max must run per range-bucket (plus the
    # literal offset map), never one global unpartitioned window
    plan = _executed_plan(entrymod.q_pareto_frontier(spark, SF_DIR))
    assert "windowspecdefinition(__b" in plan, plan
    assert "CartesianProduct" not in plan


def test_q8_single_pass_share_two_nation_roles(spark):
    # numerator and denominator come from ONE aggregated pass (a
    # conditional sum) — exactly one aggregate pair over the fact, the
    # part and region gates as broadcast LEFT SEMIs below it
    plan = _executed_plan(entrymod.q8_market_share(spark, SF_DIR))
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_bm25_query_filter_before_shuffle_and_takeordered(spark):
    # the query-term isin filter must prune the exploded tokens BEFORE
    # the (doc, term) aggregate; df/(N, avgdl) broadcast; top-k is
    # per-partition heaps — never a global sort
    plan = _executed_plan(entrymod.q_bm25_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "term#" in plan and " IN (hash,vector,stream)" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_grouped_ols_single_aggregation_pass(spark):
    # all 10 sufficient statistics come from ONE grouped aggregate with
    # map-side partials; the solve is scalar projection — no window, no
    # join, no second scan of the daily frame
    plan = _executed_plan(entrymod.q_grouped_ols_trend(spark, SF_DIR))
    assert "partial_sum" in plan
    assert "Window" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 1, plan


def test_winsorized_windows_are_bucket_bounded(spark):
    # the percentile cuts come from the bucketed kernel's one bounded
    # aggregate, so no window runs at all, and the final mean is a
    # single aggregate over the scan + broadcast cuts
    plan = _executed_plan(entrymod.q_winsorized_mean(spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "partial_sum" in plan
    assert "SortMergeJoin" not in plan


def test_hybrid_rrf_no_cartesian_fact_join(spark):
    # retrieval tops are bounded digests: the fuse must be hash/broadcast
    # joins, never a cartesian over anything fact-sized; the final cut
    # stays TakeOrderedAndProject
    plan = _executed_plan(entrymod.q_hybrid_rrf_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_mahalanobis_topk_is_take_ordered(spark):
    plan = _executed_plan(entrymod.q_mahalanobis_outliers(spark, SF_DIR))
    # the top-k must be a capped TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in plan
    # scoring is a broadcast of the 1-row sufficient-statistics digest
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bootstrap_single_pass_no_row_multiplication(spark):
    plan = _executed_plan(entrymod.q_bootstrap_ci_mean(spark, SF_DIR))
    # replicates are agg COLUMNS off one scan: no explode/generate over
    # the fact table (the only explode is the 64-element literal array
    # over the 1-row digest), and partial aggregation is map-side
    assert "partial_count" in plan or "partial_sum" in plan
    # the 129-column aggregate truncates the physical plan string, so
    # count scans in the optimized logical plan instead
    df = entrymod.q_bootstrap_ci_mean(spark, SF_DIR)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    scan_lines = [
        ln
        for ln in logical.splitlines()
        if "Relation" in ln and "orders" in ln
    ]
    assert len(scan_lines) == 1, "orders must be scanned exactly once"
    # no row-multiplying Generate over the fact scan: the only explode
    # is the 64-element literal array over the 1-row digest
    gen_lines = [ln for ln in logical.splitlines() if "Generate" in ln]
    assert len(gen_lines) <= 1


def test_acf_lag_join_broadcasts_calendar_frame(spark):
    plan = _executed_plan(entrymod.q_acf_daily(spark, SF_DIR))
    # the daily self-join on (day + lag) is post-aggregation small and
    # must broadcast, never sort-merge
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_k_anonymity_is_one_grouped_pass(spark):
    plan = _executed_plan(entrymod.q_k_anonymity(spark, SF_DIR))
    # quasi-key grouping partial-aggregates map-side; the customer scan
    # reads only the three referenced columns
    assert "partial_count" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "c_nationkey" in read_schema[0]
    assert "c_name" not in read_schema[0]


def test_mann_kendall_pairs_on_daily_frame_only(spark):
    # the O(days^2) pair join must run on the POST-AGGREGATION daily
    # frame: the orders fact table is scanned exactly twice (pair sides
    # share one daily aggregate each), never joined raw
    df = entrymod.q_mann_kendall(spark, SF_DIR)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    join_lines = [ln for ln in logical.splitlines() if "Join" in ln]
    assert join_lines, "expected the pair join"
    # every join input is an Aggregate (daily frame or digest), so the
    # fact table never feeds a join directly: the joins sit ABOVE the
    # aggregates in the printed tree
    first_join = min(
        logical.index(ln) for ln in join_lines
    )
    first_agg = logical.index("Aggregate")
    assert first_join < logical.index("Relation")
    assert first_agg > -1


def test_grouped_acf_window_is_partitioned(spark):
    plan = _executed_plan(entrymod.q_grouped_acf(spark, SF_DIR))
    # the Ljung-Box cumulative fold must partition by group — no
    # single-partition exchange below the window
    win_tail = plan.split("Window")[-1]
    assert "Window" in plan
    for ln in plan.splitlines():
        if "Window " in ln:
            assert "partitionBy" not in ln or "grp" in ln
    assert "Exchange SinglePartition" not in win_tail


def test_ngram_novelty_shuffles_hashes_not_text(spark):
    # the distinct-set join must carry only the 60-bit hash column:
    # after the per-side distinct aggregates, no exchange ships the
    # text column
    df = entrymod.q_ngram_novelty(spark, SF_DIR)
    plan = _executed_plan(df)
    ex_lines = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert ex_lines, "expected hash exchanges for the distinct sets"
    assert all("text" not in ln for ln in ex_lines)


def test_source_overlap_exchanges_carry_hashes_not_text(spark):
    df = entrymod.q_source_overlap(spark, SF_DIR)
    plan = _executed_plan(df)
    ex_lines = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert ex_lines, "expected hash exchanges for the per-source sets"
    assert all("text" not in ln for ln in ex_lines)


def test_grouped_mann_kendall_pair_join_is_equi_on_group(spark):
    # the pair condition (grp = grp2 AND d1 < d2) must resolve to an
    # EQUI join on the group key (hash/sort-merge), never a nested-loop
    # cross product over the daily frames
    plan = _executed_plan(entrymod.q_grouped_mann_kendall(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_seasonal_mann_kendall_no_cross_product(spark):
    # per-stratum pair work must ride the salted equi join, never a
    # nested-loop cross product over the daily frames
    plan = _executed_plan(entrymod.q_seasonal_mann_kendall(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_jarque_bera_single_scan_partial_agg(spark):
    # all four power sums + count are agg COLUMNS off ONE scan with
    # map-side partial aggregation — never one scan per moment
    plan = _executed_plan(entrymod.q_jarque_bera(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "partial_" in plan.lower() or "HashAggregate" in plan


def test_two_proportion_single_scan(spark):
    # both populations' counts come from ONE conditional-agg scan
    plan = _executed_plan(entrymod.q_two_proportion_ztest(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1


def test_grouped_psi_no_global_window(spark):
    # the totals window is PARTITIONED BY the group key — a global
    # single-partition exchange would serialize the fold at scale
    plan = _executed_plan(entrymod.q_grouped_psi(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Exchange SinglePartition" not in plan, plan


def test_rank_2sample_bucketed_cumulative_window(spark):
    # AD/CvM ride the shared equi-depth bucketed cumulative: the union
    # histogram is hash-partitioned by bucket id and the cumulative
    # window runs WITHIN those partitions (the only SinglePartition
    # exchange in the plan is the final 1-row scalar digest)
    plan = _executed_plan(entrymod.q_anderson_darling(spark, SF_DIR))
    assert "windowspecdefinition(__b" in plan, plan
    assert "Exchange hashpartitioning(__b" in plan, plan


def test_kendall_tau_materializes_daily_frame_once(spark):
    # the four digest branches (pair join sides, two tie aggregates, n)
    # read the PERSISTED calendar-bounded daily frame — the fact-table
    # aggregate runs once, not once per branch
    plan = _executed_plan(entrymod.q_kendall_tau(spark, SF_DIR))
    # all five branches read the cache (the only parquet scan in the
    # string is the one INSIDE the InMemoryRelation's build definition)
    assert plan.count("InMemoryTableScan") >= 4, plan


def test_query_neardup_broadcasts_query_side(spark):
    # the lookup must never self-join the corpus: every join is a
    # broadcast of the (bounded) query side, no sort-merge anywhere
    plan = _executed_plan(
        entrymod.queries()["minhash_query_neardup"](spark, SF_DIR)
    )
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_query_neardup_recall_no_corpus_self_join(spark):
    # the recall harness must inherit the lookup's scale shape: the
    # truth intersection joins the corpus to the BROADCAST query
    # shingles, never corpus-to-corpus — no cartesian anywhere
    plan = _executed_plan(
        entrymod.queries()["minhash_query_recall"](spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_pq_trained_codebook_no_corpus_join(spark):
    # training assign/update passes are map-only encodes against the
    # broadcast codebook literal plus ONE mean shuffle each; the final
    # digest join is the 128-row local norms frame — never a
    # corpus-to-corpus join
    plan = _executed_plan(
        entrymod.queries()["pq_trained_codebook"](spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_ratio_ztest_single_conditional_scan(spark):
    # per-variant sufficient statistics are conditional aggregates of
    # ONE scan (plus the bounded level probe) - map-side partials, no
    # join of two per-variant frames
    plan = _executed_plan(
        entrymod.queries()["ratio_ab_ztest"](spark, SF_DIR)
    )
    assert "Join" not in plan
    assert "partial" in plan.lower()


def test_srm_fold_no_fact_table_window(spark):
    # the chi-square fold's window runs on the bounded |levels| frame,
    # AFTER the groupBy count - the fact table never meets a window
    plan = _executed_plan(
        entrymod.queries()["sample_ratio_mismatch"](spark, SF_DIR)
    )
    assert "partial_count" in plan or "partial" in plan.lower()
    # exactly one aggregation of the fact table feeds the fold
    assert plan.count("Scan parquet") == 1


def test_pettitt_windows_on_daily_frame_only(spark):
    # both ordered windows sit ABOVE the daily aggregate: the parquet
    # scan feeds one partial aggregation, not a window
    plan = _executed_plan(
        entrymod.queries()["pettitt_changepoint"](spark, SF_DIR)
    )
    assert plan.count("Scan parquet") == 1
    assert "TakeOrderedAndProject" in plan


def test_dispersion_two_partial_aggs(spark):
    plan = _executed_plan(
        entrymod.queries()["dispersion_index"](spark, SF_DIR)
    )
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_welch_single_conditional_scan(spark):
    # both variants' sufficient statistics are conditional aggregates
    # of ONE scan (plus the bounded level probe) — no per-variant join
    plan = _executed_plan(entrymod.queries()["welch_ttest"](spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert "partial" in plan.lower()


def test_brown_forsythe_broadcasts_medians(spark):
    # the per-group median frame joins BACK onto the fact scan as a
    # broadcast (bounded |groups|), never a sort-merge; the k-row fold
    # is the only single-partition exchange
    plan = _executed_plan(
        entrymod.queries()["brown_forsythe"](spark, SF_DIR)
    )
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_cmh_single_scan_bounded_fold(spark):
    # the per-stratum 2x2 counts come from ONE conditional-agg scan;
    # every window runs over the bounded strata digest
    plan = _executed_plan(entrymod.queries()["cmh_test"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_grouped_ztest_bh_windows_on_digest_only(spark):
    # one conditional-agg shuffle to per-group counts; the BH ranking
    # and suffix-min windows run over the bounded |groups| digest (the
    # single-partition exchanges sit above the aggregate, never on the
    # fact table)
    plan = _executed_plan(
        entrymod.queries()["grouped_ztest_bh"](spark, SF_DIR)
    )
    assert plan.count("Scan parquet") == 1
    assert "partial" in plan.lower()


def test_nelson_aalen_windows_on_duration_histogram(spark):
    # same shape as kaplan_meier: subjects aggregate to the distinct-
    # duration histogram, PERSISTED once — the sketch probe and the
    # cumulative branch both read the cache instead of re-scanning the
    # subject frame (count InMemoryTableScan, not Scan parquet: cached
    # bodies repeat their file lineage textually per consumer); every
    # window is bucket-partitioned
    with _force_bucketed_survival():
        plan = _executed_plan(
            entrymod.queries()["nelson_aalen"](spark, SF_DIR)
        )
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "SortMergeJoin" not in plan
    _assert_windows_bucketed(plan)


def test_durbin_watson_folds_on_daily_frame(spark):
    # the bounded daily frame is persisted once (OLS digest + residual
    # branch both read the cache); the ordered folds end in the 1-row
    # TakeOrderedAndProject
    plan = _executed_plan(entrymod.queries()["durbin_watson"](spark, SF_DIR))
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "TakeOrderedAndProject" in plan


def test_q9_broadcast_dimension_chain(spark):
    # part filter and the supplier->nation chain broadcast; the only
    # shuffle joins are fact-sized (orders on the order key)
    plan = _executed_plan(
        entrymod.queries()["q9_product_profit"](spark, SF_DIR)
    )
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_kruskal_wallis_bucketed_cumulative(spark):
    # the rank cumulative is bucket-partitioned (the shared
    # _bucketed_global_cum), never a global fact-table window; the only
    # SinglePartition exchanges sit above the bounded digests
    plan = _executed_plan(entrymod.queries()["kruskal_wallis"](spark, SF_DIR))
    assert "Exchange hashpartitioning(__b" in plan, plan
    assert "windowspecdefinition(__b" in plan, plan


def test_cox_score_windows_on_duration_histogram(spark):
    # same shape as logrank/kaplan_meier: subjects collapse to the
    # distinct-duration histogram in ONE grouped scan (the scaffold's
    # offsets fold hands back n_subjects, so there is NO second
    # fact-table scan); the risk-set cumulative is bucket-partitioned
    # (no unpartitioned window), no join at any scale, and the risk-set
    # sums stay decimal (exact) until the term stage
    with _force_bucketed_survival():
        plan = _executed_plan(
            entrymod.queries()["cox_score"](spark, SF_DIR)
        )
    assert "SortMergeJoin" not in plan, plan
    _assert_windows_bucketed(plan)
    # the histogram is persisted (cached bodies repeat file lineage
    # textually per consumer, so count the cache reads, not scans)
    assert "InMemoryTableScan" in plan, plan
    # the U/I fold is a plain decimal aggregate (order-independent),
    # not an ordered cumulative + last-row pick
    assert "partial_sum" in plan, plan


def test_obf_monitor_windows_on_look_frame(spark):
    # batch twin of the streaming contract: ONE conditional-agg scan to
    # the per-look counts; the cumulative/full-range windows run over
    # the bounded look frame (the SinglePartition exchange sits above
    # the aggregate, never on the fact table)
    from pyspark.sql import functions as F

    from datajudge_spark.operators.stats import (
        obf_sequential_ztest,
        sequential_look_counts,
    )

    ev = entrymod._t(spark, SF_DIR, "events")
    looks = sequential_look_counts(
        ev,
        F.dayofmonth(F.col("ts").cast("timestamp")),
        F.col("user_id") % 2 == 0,
        F.col("user_id") % 2 == 1,
        F.col("event_type") == "purchase",
    )
    plan = _executed_plan(obf_sequential_ztest(looks))
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_count" in plan, plan
    assert "Join" not in plan, plan


def test_qte_bucketed_cumulative_single_scan(spark):
    # the grouped_ks scaffold: ONE conditional-agg histogram scan, the
    # bucket-partitioned cumulative (never a global fact-table window),
    # all (variant, decile) cells in one final aggregate reading the
    # persisted cums (cached bodies repeat their file lineage textually
    # per consumer — count InMemoryTableScan, not Scan parquet)
    plan = _executed_plan(entrymod.queries()["qte_deciles"](spark, SF_DIR))
    assert "InMemoryTableScan" in plan, plan
    assert "Exchange hashpartitioning(__b" in plan, plan
    assert "Join" not in plan, plan
    for ln in plan.splitlines():
        if "Window " in ln:
            assert "__b" in ln, f"unpartitioned window: {ln}"


def test_grouped_qte_bucketed_single_scan(spark):
    # the grouped_ks scaffold: ONE conditional-agg histogram for all
    # (segment, variant) cells, bucket-partitioned cumulative, the
    # final grid in one aggregate over the persisted cums
    plan = _executed_plan(entrymod.queries()["grouped_qte"](spark, SF_DIR))
    assert "InMemoryTableScan" in plan, plan
    assert "Exchange hashpartitioning(__b" in plan, plan
    _assert_windows_bucketed(plan)
    assert "SortMergeJoin" not in plan, plan


def test_decontaminate_winnow_semi_join_no_python(spark):
    # train side reduces to its distinct fingerprint set and meets the
    # eval fingerprints in an int64 semi-join: no Python stage, no
    # nested-loop join, text never reaches a shuffle
    plan = _executed_plan(
        entrymod.queries()["decontaminate_winnow"](spark, SF_DIR)
    )
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_scalar_constraints_share_one_scan(spark):
    # Requirement.test computes the scalar checks of one source as ONE
    # aggregate: a single parquet scan feeding a map-side partial and a
    # final HashAggregate, whatever the checks' conditions
    from datajudge_spark import Condition
    from datajudge_spark.operators.scalars import ScalarAgg, _fused_frame
    from datajudge_spark.reference import DataReference
    from datajudge_spark.sources import ParquetDataSource

    source = ParquetDataSource(f"{SF_DIR}/lineitem.parquet")

    def ref(column=None, cond=None):
        cols = None if column is None else [column]
        return DataReference(source, cols, cond and Condition(raw_string=cond))

    aggs = [
        ScalarAgg("count", ref(cond="l_quantity > 5"), cap=100),
        ScalarAgg("max", ref("l_discount")),
        ScalarAgg("mean", ref("l_tax", "l_quantity < 40")),
        ScalarAgg("missing_fraction", ref("l_returnflag", "l_tax > 0.02")),
        ScalarAgg("fraction_between", ref("l_quantity"), lower=1, upper=10),
        ScalarAgg("max_length", ref("l_linestatus", "l_quantity > 5")),
    ]
    plan = _executed_plan(_fused_frame(source.get_df(spark), aggs))
    assert plan.count("FileScan") == 1
    assert plan.count("HashAggregate") == 2
    final, partial = [
        ln for ln in plan.splitlines() if "HashAggregate" in ln
    ]
    assert "partial_" not in final
    assert "partial_count" in partial and "partial_max" in partial
    assert plan.index(final) < plan.index(partial) < plan.index("FileScan")


def test_functional_dependency_one_scan_one_exchange(spark):
    # one hash exchange by key feeds both the DISTINCT and the per-key
    # grouping; no semi-join scans the source a second time
    from datajudge_spark import Condition
    from datajudge_spark.operators import get_functional_dependency_violations
    from datajudge_spark.reference import DataReference
    from datajudge_spark.sources import ParquetDataSource

    ref = DataReference(
        ParquetDataSource(f"{SF_DIR}/lineitem.parquet"),
        ["l_orderkey", "l_linenumber", "l_returnflag"],
        Condition(raw_string="l_quantity > 5"),
    )
    _, (df,) = get_functional_dependency_violations(
        spark, ref, ["l_orderkey", "l_linenumber"]
    )
    final = _executed_plan(df).split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1, final
    assert final.count("Exchange") == 1, final
    assert "Join" not in final, final
