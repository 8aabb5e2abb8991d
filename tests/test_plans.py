"""Physical-plan quality gates.

Correctness says WHAT came out; these pin HOW — that filters reach the
parquet scan, projections prune columns, small dimensions broadcast,
top-k becomes TakeOrderedAndProject / WindowGroupLimit, and nothing
degenerates into a cartesian product.  A plan regression here is a
100 TB incident even when sf0.01 results stay identical.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from video_metadata_db_spark.plans import QUERIES
from video_metadata_db_spark.plans.plan_audit import (
    NODE_RE,
    single_partition_window_exchanges,
)

SF = "/root/testdata/sf0.01"


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark):
    p = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p, "shipdate filter must reach the scan"
    assert "l_comment" not in p, "untouched columns must be pruned from ReadSchema"
    assert "l_orderkey" not in p


def test_star_join_broadcasts_dims(spark):
    p = plan_of(spark, "join_star_revenue")
    assert p.count("BroadcastHashJoin") >= 3, "every dim of the star must broadcast"
    assert "SortMergeJoin" not in p, "no shuffle join for sub-threshold dims"
    assert "CartesianProduct" not in p


def test_semi_anti_stay_broadcast(spark):
    for name in ("join_semi", "join_anti", "update_anti_join"):
        p = plan_of(spark, name)
        assert "BroadcastHashJoin" in p, f"{name}: membership check should broadcast"
        assert "CartesianProduct" not in p, name


def test_topk_is_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "topk_global"), (
        "global ORDER BY + LIMIT must not fully sort"
    )


def test_window_topk_group_limit(spark):
    assert "WindowGroupLimit" in plan_of(spark, "window_topk_per_group"), (
        "rank<=k filter must push a per-group limit below the window sort"
    )


def test_diverse_topk_prunes_then_takes(spark):
    """The per-source cap must prune below the window sort AND the
    global top-20 must avoid a full sort."""
    p = plan_of(spark, "topk_diverse_docs")
    assert "WindowGroupLimit" in p, "src_rank<=5 must push a group limit"
    assert "TakeOrderedAndProject" in p, "global LIMIT must not fully sort"


def test_knn_broadcasts_queries(spark):
    p = plan_of(spark, "knn_cosine_topk")
    assert "BroadcastNestedLoopJoin" in p, "the small query set must broadcast"
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p


def test_q5_dims_broadcast(spark):
    """The 6-table star must shuffle only on the fact-fact orderkey
    join; all dimension joins broadcast."""
    p = plan_of(spark, "q5_local_supplier_revenue")
    assert p.count("BroadcastHashJoin") >= 2, "customer + dim-bundle must broadcast"
    assert "CartesianProduct" not in p


def test_q3_sql_surface_topk(spark):
    p = plan_of(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in p, "SQL LIMIT 10 must not global-sort"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_anywhere(spark, name):
    p = plan_of(spark, name)
    assert "CartesianProduct" not in p, (
        f"{name}: unintended cartesian product"
    )
    # registry-wide single-reducer-window gate (VERDICT r8 item 2): no
    # query may sort a non-aggregated frame through one task for a
    # window.  Post-aggregate model-sized windows (daily series, bin
    # grids, the prefix-sum machinery's bucket offsets) are allowed by
    # the detector itself; the whitelist is for sites it cannot prove
    # small from the plan alone.
    whitelist: set[str] = set()
    if name not in whitelist:
        hits = single_partition_window_exchanges(p)
        assert not hits, (
            f"{name}: Window over Exchange SinglePartition on a "
            f"non-aggregated frame (exchange ids {hits}) — use the "
            f"distributed global_row_number/sequence_offsets machinery"
        )


def test_spwin_detector_controls(spark):
    """Pin the detector against a known-positive (raw global window —
    including the broadcast-aggregate-on-the-OTHER-side shape that a
    naive 'aggregate nearby' heuristic would miss) and a known-negative
    (post-aggregate window)."""
    import contextlib
    import io

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    raw = spark.range(1000).withColumn(
        "r", F.row_number().over(Window.orderBy("id"))
    )
    assert single_partition_window_exchanges(fmt(raw))

    mx = spark.range(10).agg(F.max("id").alias("m"))
    joined = (
        spark.range(1000)
        .join(F.broadcast(mx))
        .withColumn("r", F.row_number().over(Window.orderBy("id")))
    )
    assert single_partition_window_exchanges(fmt(joined))

    agg = (
        spark.range(1000)
        .withColumn("g", F.col("id") % 10)
        .groupBy("g")
        .count()
        .withColumn("r", F.row_number().over(Window.orderBy("g")))
    )
    assert not single_partition_window_exchanges(fmt(agg))

    # ADVICE r9: a single-reducer window hidden in a SCALAR SUBQUERY
    # tree (printed under '===== Subqueries =====', after the blank
    # line that used to end parsing) must be caught too.
    raw.createOrReplaceTempView("spwin_sub_ctl")
    sub = spark.sql(
        "SELECT id FROM range(100) WHERE id < "
        "(SELECT max(r) FROM spwin_sub_ctl)"
    )
    txt = fmt(sub)
    assert "Subqueries" in txt, "control must actually print a subquery section"
    assert single_partition_window_exchanges(txt)


def test_hits_topk_is_rank_limit_pushed(spark):
    """hits_hubs_authorities' global top-10-per-side relies on Spark's
    rank-limit pushdown (WindowGroupLimit → TakeOrderedAndProject
    before the single-partition window) for its scale story — pin it so
    a refactor can't silently regress to a one-reducer sort of the full
    score frame (VERDICT r8 item 5)."""
    p = plan_of(spark, "hits_hubs_authorities")
    tree = [ln for ln in p.splitlines() if NODE_RE.match(ln)]
    windows = [i for i, ln in enumerate(tree) if "Window (" in ln]
    assert windows, "expected the two top-10 rank windows in the plan"
    for i in windows:
        assert "TakeOrderedAndProject" in tree[i + 1], (
            "each rank<=10 window must read from TakeOrderedAndProject "
            f"(rank-limit pushdown), got: {tree[i + 1].strip()}"
        )


def test_range_binned_is_equi_join(spark):
    """The binned range join must plan as an equi-join on (key, bucket)
    — a nested-loop here means the binning rewrite regressed to the
    naive quadratic form."""
    plan = plan_of(spark, "join_range_binned")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_contamination_broadcasts_benchmark_grams(spark):
    """Corpus grams must stream against a broadcast benchmark-gram set;
    shuffling the corpus on the gram key would be the 100 TB bottleneck."""
    plan = plan_of(spark, "contamination_check")
    assert "BroadcastHashJoin" in plan


def test_q6_pushes_all_predicates_and_prunes(spark):
    """Q6 is pure scan+aggregate: all three predicates must reach the
    parquet scan and ReadSchema must be only the 4 referenced columns —
    at 100 TB this query IS row-group pruning plus a columnar sum."""
    p = plan_of(spark, "q6_forecast_revenue")
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in p, f"{col} predicate must push to the scan"
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_quantity" in p
    assert "l_orderkey" not in p, "unreferenced columns must be pruned"
    assert "l_returnflag" not in p


def test_shuffle_global_order_has_no_global_window(spark):
    """The epoch-shuffle rank must be the distributed two-pass form:
    row-level windows partitioned on the range bucket (_pid), offsets
    broadcast back — never a single-reducer global row_number."""
    p = plan_of(spark, "shuffle_global_order")
    assert "hashpartitioning(_pid" in p, "row window must partition on the range bucket"
    assert "BroadcastHashJoin" in p, "per-bucket offsets must broadcast"
    assert "SortMergeJoin" not in p


def test_chunk_sliding_tokens_is_shuffle_free(spark):
    """Chunking is embarrassingly parallel: scan → generate → project.
    The only exchange allowed is the presentation ORDER BY's range
    partitioner — no hash shuffle, no join anywhere."""
    p = plan_of(spark, "chunk_sliding_tokens")
    assert "hashpartitioning" not in p
    assert "Join" not in p
    assert p.count("rangepartitioning") == 1


def test_q19_single_join_despite_disjunction(spark):
    """Catalyst must factor the common p_partkey equi-join out of the
    OR-of-ANDs — ONE broadcast join with the disjunction as a filter,
    never a union of three joins or a nested loop."""
    p = plan_of(spark, "q19_discounted_revenue")
    # formatted plans print each node twice (tree + detail), so ONE
    # join node shows as exactly one "BroadcastHashJoin Inner" tree line
    assert p.count("BroadcastHashJoin Inner") == 1
    assert "BroadcastNestedLoopJoin" not in p
    assert "Union" not in p


def test_q8_all_dims_broadcast(spark):
    """The 8-table market-share join must broadcast every dimension —
    the only shuffle-worthy join is lineitem⋈orders."""
    p = plan_of(spark, "q8_market_share")
    assert p.count("BroadcastHashJoin") >= 6
    assert "CartesianProduct" not in p


def test_window_frames_single_hash_exchange(spark):
    """All four frames in window_frames partition on user_id, so the
    plan must contain exactly ONE hash exchange (the RANGE frame's
    different ORDER BY adds only an in-partition re-sort); the second
    exchange is the presentation ORDER BY's range partitioner."""
    p = plan_of(spark, "window_frames")
    assert p.count("hashpartitioning(user_id") == 1, p[:2000]
    assert p.count("Window") >= 2, "both window specs must survive"


def test_q2_argmin_broadcasts_dims_and_takeordered(spark):
    """Q2's decorrelated argmin: the offers⋈best equality join and all
    dims resolve to broadcast hash joins, and LIMIT 100 over the total
    sort key runs as TakeOrderedAndProject, never a global sort."""
    p = plan_of(spark, "q2_min_cost_supplier")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_q4_exists_decorrelates_to_semi_join(spark):
    """The correlated EXISTS (with interval arithmetic in the
    correlated predicate) must become a hash semi join — any fallback
    to BroadcastNestedLoopJoin means the non-equi term displaced the
    orderkey equality."""
    p = plan_of(spark, "q4_order_priority")
    assert "LeftSemi" in p, "EXISTS must plan as a left-semi hash join"
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q21_exists_pair_stays_hash_joined(spark):
    """Q21's EXISTS + NOT EXISTS self-joins both decorrelate to hash
    semi/anti joins on the shared orderkey, and the top-100 is
    TakeOrderedAndProject."""
    p = plan_of(spark, "q21_waiting_supplier")
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_q16_not_in_is_broadcast_anti(spark):
    p = plan_of(spark, "q16_parts_supplier_count")
    assert "LeftAnti" in p, "NOT IN exclusion must be an anti join"
    assert "CartesianProduct" not in p


def test_kmeans_assignment_is_one_map_in_pandas(spark):
    """The corpus-sized k-means assignment is one Arrow-batched
    ``MapInPandas`` pass: the centroids ride in its closure, so the plan
    never joins the corpus against them and runs no per-row Python
    UDF."""
    p = plan_of(spark, "kmeans_clusters")
    assert "MapInPandas" in p
    assert "ArrowEvalPython" not in p
    assert "BatchEvalPython" not in p
    assert "Join" not in p, "assignment must not join — centroids ship in the closure"


def test_tfidf_doc_count_broadcasts(spark):
    """The corpus-total scalar must ride in as a broadcast one-row
    cross join (never a driver-side count action) and the per-doc
    top-3 must prune through WindowGroupLimit."""
    p = plan_of(spark, "tfidf_top_terms")
    assert "BroadcastNestedLoopJoin" in p, "one-row total should broadcast-cross-join"
    assert "WindowGroupLimit" in p


def test_scalar_subquery_queries_stay_hash_joined(spark):
    """Q11/Q15/Q22: the scalar-aggregate threshold runs as a Subquery
    (computed once, broadcast back as a literal), never as a per-row
    nested loop; all joins stay hash joins."""
    for name in ("q11_important_stock", "q15_top_supplier", "q22_global_sales_opportunity"):
        p = plan_of(spark, name)
        assert "Subquery" in p, f"{name}: scalar threshold must be a one-shot subquery"
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name


def test_q22_not_exists_is_anti_join(spark):
    p = plan_of(spark, "q22_global_sales_opportunity")
    assert "LeftAnti" in p, "recent-activity NOT EXISTS must be an anti join"


def test_q20_nested_in_is_semi_join(spark):
    p = plan_of(spark, "q20_promotion_suppliers")
    assert "LeftSemi" in p, "IN(GROUP BY..HAVING) must decorrelate to a semi join"
    assert "CartesianProduct" not in p


def test_q9_dims_all_broadcast(spark):
    """The 5-table profit join: part (name-pruned), supplier, orders,
    nation all join the lineitem spine as broadcast hash joins at this
    scale — no cartesian anywhere."""
    p = plan_of(spark, "q9_product_type_profit")
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_brand_affinity_pairs_from_arrays_not_self_join(spark):
    """Pair candidates must come from the per-customer ARRAY expansion
    (Generate/explode), not a corpus self-join on cust — and the
    brand-size tables must broadcast."""
    p = plan_of(spark, "brand_affinity_jaccard")
    assert "Generate" in p, "array pair expansion must drive candidates"
    assert p.count("BroadcastHashJoin") >= 2, "size tables must broadcast"
    assert "CartesianProduct" not in p


def test_term_pmi_prunes_df_before_expansion(spark):
    """The frequent-term floor must join BEFORE the pair expansion
    (broadcast semi shape), and df side tables must broadcast."""
    p = plan_of(spark, "term_pmi_top")
    assert "Generate" in p
    assert p.count("BroadcastHashJoin") >= 2, "df prune and size joins broadcast"
    assert "TakeOrderedAndProject" in p, "top-20 must not fully sort"


def test_trade_balance_matrix_self_join_runs_on_checkpoint(spark):
    """The r11 optimization checkpoints the |nations|²-bounded flow
    matrix, so the returned plan must (a) self-join CHECKPOINT scans,
    not re-derive the fact pass per side — zero parquet scans in the
    final plan is the proof the build ran exactly once — and (b) stay
    cartesian-free.  The four dimension joins of the flow build execute
    inside the checkpoint materialization (their broadcast shape and
    the values both stay pinned by the DuckDB oracle)."""
    p = plan_of(spark, "nation_trade_balance")
    assert "Scan ExistingRDD" in p, "flow matrix must be a checkpoint leaf"
    assert "Scan parquet" not in p, "fact pass must not re-run per join side"
    assert "CartesianProduct" not in p


def test_trade_balance_build_broadcasts_all_dims(spark):
    """VERDICT r11 item 6: the r11 checkpoint hid the flow build's dim
    joins from the returned plan, and the old >=4-BroadcastHashJoin
    assertion was dropped with it.  Re-pin the BUILD frame itself (the
    pre-checkpoint `_trade_flows`): customer, supplier and both nation
    legs must broadcast against the single fact pass."""
    import contextlib
    import io

    from video_metadata_db_spark.plans.tpch_gap_queries import _trade_flows

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _trade_flows(spark, SF).explain("formatted")
    p = buf.getvalue()
    assert p.count("BroadcastHashJoin") >= 4, "all four dim joins must broadcast"
    assert "CartesianProduct" not in p
    # formatted mode prints each node twice (tree + detail); 6 scans =
    # lineitem + orders + customer + supplier + nation x2 (ns, nc)
    assert p.count("Scan parquet") <= 12, "one fact pass + dim scans only"


def test_abc_prefix_sum_runs_on_checkpoint(spark):
    """The per-part revenue aggregate roots THREE consumers (both
    prefix-sum passes + the grand total); the r11 eager cut bounds the
    lineitem scan+aggregate to ONE run — zero parquet scans in the
    returned plan is the proof."""
    p = plan_of(spark, "abc_classification")
    assert "Scan ExistingRDD" in p, "per-part revenue must be a checkpoint leaf"
    assert "Scan parquet" not in p, "lineitem aggregate must not re-run per pass"
    assert "CartesianProduct" not in p


def test_encode_vocab_cut_is_take_ordered(spark):
    """The top-256 vocab cut must be a TakeOrderedAndProject over the
    token-count aggregate — never a whole-vocabulary single-partition
    sort (the rank window may only run on the 256-row result)."""
    p = plan_of(spark, "encode_tokens")
    assert "TakeOrderedAndProject" in p, "vocab cut must be top-k, not full sort"
    # formatted mode prints each node twice (tree + detail): 2 scans = 4
    assert p.count("Scan parquet") <= 4, "corpus tokenize feeds counts + encode only"


def test_poisson_point_rides_bootstrap_cells(spark):
    """The point estimate must be derived from the checkpointed
    bootstrap cell frame (rep-0 slice), not a second full orders
    scan — zero parquet scans in the returned plan."""
    p = plan_of(spark, "poisson_bootstrap_ci")
    assert "Scan ExistingRDD" in p, "cells must be a checkpoint leaf"
    assert "Scan parquet" not in p, "orders must not be re-scanned for the point mean"


def test_resample_runs_on_hourly_checkpoint(spark):
    """Bounds derive from the hourly aggregate (date_trunc commutes
    with min/max), so the raw event scan runs exactly once — the grid
    build and the fill join both read the checkpoint."""
    p = plan_of(spark, "resample_forward_fill")
    assert "Scan ExistingRDD" in p, "hourly frame must be a checkpoint leaf"
    assert "Scan parquet" not in p, "events must be scanned only inside the cut"


def test_decile_mobility_self_join_runs_on_checkpoint(spark):
    """Both sides of the consecutive-month self-join must read the
    checkpointed (cust, month, decile) frame, not re-run the orders
    aggregate + rank window per side."""
    p = plan_of(spark, "spend_decile_mobility")
    assert "Scan ExistingRDD" in p, "ranked frame must be a checkpoint leaf"
    assert "Scan parquet" not in p, "orders aggregate must not re-run per join side"
    assert "CartesianProduct" not in p


def test_reach_curve_windows_are_day_bounded(spark):
    """The only window is the cumulative sum over the DAY grain — the
    corpus contributes two partial-aggregatable exchanges (distinct +
    per-user min), never a corpus-sized window."""
    p = plan_of(spark, "reach_curve_daily")
    assert p.count("Window") <= 2, "one day-grain running-sum window expected"
    assert "CartesianProduct" not in p


def test_centroid_cosine_pair_join_is_centroid_sized(spark):
    """The corpus prices one positional-explode aggregate; the pair
    join must run on the aggregated centroid table (both sides
    HashAggregate-derived), with norm tables broadcast."""
    p = plan_of(spark, "centroid_cosine_matrix")
    assert p.count("BroadcastHashJoin") >= 2, "norm side tables broadcast"
    assert "CartesianProduct" not in p


def test_neyman_rank_is_per_stratum_window(spark):
    """The draw must be a per-stratum rank window (partitioned by
    source) with the |strata|-row allocation broadcast into the
    filter."""
    p = plan_of(spark, "sample_neyman_allocation")
    assert "row_number" in p
    assert "BroadcastHashJoin" in p, "allocation table must broadcast"
    assert "CartesianProduct" not in p


def test_negative_sampling_grid_and_anti_shapes(spark):
    """The |customers|×|brands| grid must come from a broadcast
    nested-loop on the 25-row brand dim (cheap by construction), the
    positives exclusion must be an ANTI join, and the draw a ranked
    window — never a corpus cartesian."""
    p = plan_of(spark, "sample_negative_brands")
    assert "LeftAnti" in p, "positives exclusion must be an anti join"
    assert "row_number" in p, "draw must be the per-customer rank window"
    assert "CartesianProduct" not in p


def test_price_volume_period_split_is_conditional(spark):
    """The median BOUNDARY needs its own pass (order statistic) but
    must come from the single-column ORDERS scan, not a rerun of the
    joined fact tree; the period split itself is conditional
    aggregation — so the plan is bounded by the one 6-scan join tree
    plus the cheap boundary scan (a per-period or joined-boundary
    plan would push scans past 12)."""
    p = plan_of(spark, "price_volume_decomposition")
    assert p.count("Scan parquet") <= 8, "join tree once + orders boundary"
    assert "CartesianProduct" not in p


def test_repeat_revenue_first_seen_is_aggregate_not_window(spark):
    """Acquisition attribution must be the per-customer min AGGREGATE
    joined back — not a corpus-wide window over orders."""
    p = plan_of(spark, "repeat_revenue_share_monthly")
    assert p.count("Window") <= 1, "only calendar-bounded windows allowed"
    assert "CartesianProduct" not in p


def test_threshold_sweep_reuses_one_pair_stream(spark):
    """The 5-row threshold frame must broadcast onto ONE candidate
    stream — five separate LSH passes would show five signature
    subtrees.  The signature persist is the shared LRU scope, whose
    occupancy depends on which dedup queries ran earlier in the
    session; release it first so the asserted plan is the
    fresh-session shape, not a function of test order."""
    from video_metadata_db_spark.operators.dedup import release_dedup_caches

    release_dedup_caches()
    p = plan_of(spark, "lsh_threshold_sweep")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert p.count("Scan parquet") <= 6, "signature work must not quintuple"


def test_padding_waste_is_single_scan_rollup(spark):
    """One corpus scan + one partial-aggregatable rollup on the 7-value
    bucket key — no window, no join (the whole point of the audit being
    cheap enough to run per-release)."""
    p = plan_of(spark, "padding_waste_by_bucket")
    # formatted explain lists each operator in the tree AND the detail
    # section, so one physical scan appears twice
    assert p.count("Scan parquet") == 2
    assert "Window" not in p and "Join" not in p


def test_variance_ratio_windows_are_day_bounded(spark):
    """The lag windows must run AFTER the daily rollup (date-domain
    frame, calendar-bounded) — a corpus-sized unpartitioned window
    would be the classic global-sort trap."""
    import re

    p = plan_of(spark, "revenue_variance_ratio")
    assert p.count("Scan parquet") == 2  # one scan, tree + detail listing
    # the daily aggregate must sit BELOW the window in the plan tree.
    # Formatted explain prints top-down with ids increasing toward the
    # root, so "below" means a SMALLER node id: the lag Window's input
    # chain must contain a HashAggregate (the partial+final daily
    # rollup), i.e. min(aggregate ids) < window id.  (A raw string
    # p.index() compare is vacuous — the FINAL 6-cell aggregate prints
    # before 'Window' even when the window runs over the raw corpus.)
    window_id = int(re.search(r"Window \((\d+)\)", p).group(1))
    agg_ids = [int(x) for x in re.findall(r"HashAggregate \((\d+)\)", p)]
    assert agg_ids and min(agg_ids) < window_id, (
        "lag window must consume the day-domain rollup, not the corpus"
    )


def test_cdc_apply_is_single_join(spark):
    """One full-outer hash join on the key; the op filter must be a
    projection/filter, never a second join against the changefeed."""
    p = plan_of(spark, "merge_cdc_apply")
    tree = p.partition("\n\n")[0]
    assert tree.count("SortMergeJoin") + tree.count("BroadcastHashJoin") <= 2, (
        "base-vs-changefeed apply must not multiply joins "
        "(1 merge join + at most 1 for the spend rollup side)"
    )
    assert "FullOuter" in p


def test_recall_audit_exact_side_is_broadcast_topk(spark):
    """The ground-truth side must broadcast the 5 queries onto one
    corpus scan and push the per-query top-k down as a group limit —
    a shuffled corpus self-join here would be the scale killer."""
    p = plan_of(spark, "adc_recall_audit")
    assert "WindowGroupLimit" in p, "exact top-k must push a group limit"
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_ccf_windows_stay_on_grid_domain(spark):
    """The lag expansion must run on the calendar-bounded hour grid
    (one aggregate-domain equi-join), with the corpus priced by a
    single (hour, type) rollup — no window operator at all."""
    p = plan_of(spark, "ccf_click_purchase")
    assert "Window" not in p.partition("\n\n")[0]
    assert p.count("Scan parquet") <= 6  # events scanned for bounds+hourly, tree+detail


def test_mrl_prefix_scans_share_broadcast_topk_shape(spark):
    """Every prefix pass must keep the knn shape: broadcast queries,
    pushed per-query group limit, no cartesian."""
    p = plan_of(spark, "mrl_prefix_recall")
    assert p.count("WindowGroupLimit") >= 3, "each prefix needs a group limit"
    assert "BroadcastNestedLoopJoin" in p
