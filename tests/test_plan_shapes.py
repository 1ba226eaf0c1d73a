"""Physical-plan regression tests: the optimizations we rely on at scale
must actually appear in the plan — a correct-but-unpushed scan or a
sort-merge join against a dim table is a perf bug even when results match.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
)

SF = "/root/testdata/sf0.001"


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plan(spark, name: str) -> str:
    return _explain(QUERIES[name].fn(spark, SF))


def test_filter_pushed_to_scan(spark):
    plan = _plan(spark, "s1_scan_projection")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan


def test_columns_pruned_at_scan(spark):
    plan = _plan(spark, "s1_scan_projection")
    # scan must read only the 4 referenced columns, not all 11
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in read_schema
    assert "l_comment" not in read_schema


def test_dim_join_is_broadcast(spark):
    plan = _plan(spark, "j1_join_inner_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multiway_dims_broadcast(spark):
    plan = _plan(spark, "j5_join_multiway")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_agg_is_two_phase(spark):
    # partial (map-side) + final hash aggregation
    plan = _plan(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_topk_avoids_global_sort(spark):
    plan = _plan(spark, "t1_topk")
    assert "TakeOrderedAndProject" in plan


@pytest.mark.reference_data
def test_retail_depletion_join_is_broadcast(spark):
    """The pipeline's products joins must broadcast (36-row dim)."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.retail import (
        run_retail_pipeline,
    )
    from retail_data_pipeline_and_forecasting_system_spark.sources import (
        read_products_csv,
        read_transactions_json,
    )

    products = read_products_csv(
        spark, "/root/reference/data/dataset_15/products.csv"
    )
    raw = read_transactions_json(
        spark, "/root/reference/data/dataset_15/transactions_20240201.json"
    )
    outs = run_retail_pipeline(raw, products)
    plan = _explain(outs["orders"])
    assert "BroadcastHashJoin" in plan


def test_range_join_is_hash_not_cartesian(spark):
    for name in ("j6_range_join", "j7_funnel"):
        plan = _plan(spark, name)
        assert (
            "CartesianProduct" not in plan
            and "BroadcastNestedLoop" not in plan
        ), name
        # equi on (user, hour-bucket) — the interval-bucketed shape; the
        # range predicate is only a residual condition
        assert "HashJoin" in plan, name
        assert "bucket" in plan, name


def test_window_pack_single_shuffle(spark):
    # all five window exprs share one (partition, order) spec -> exactly one
    # exchange + one sort feeds every frame
    import re

    plan = _plan(spark, "w4_window_pack")
    # count physical-operator detail headers, not string mentions (each
    # operator appears once in the tree and once in the detail section)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1


def test_train_split_is_shuffle_free(spark):
    plan = _plan(spark, "x6_train_split")
    assert "Exchange" not in plan  # pure map-side column expression


def test_multimodal_stages_are_shuffle_free(spark):
    for name in ("m1_multimodal_decode", "m3_media_resize",
                 "m4_frame_sample", "m5_media_features"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name} must not shuffle"
        assert "MapInPandas" in plan, f"{name} must be Arrow mapInPandas"


def test_q3_topk_uses_partial_heaps(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan  # never a global sort for top-k


def test_q5_only_shuffles_fact_sides(spark):
    import re

    plan = _plan(spark, "q5_local_supplier_volume")
    # every dim broadcasts (at tiny SF the filtered orders side does too —
    # the fact side then joins with NO shuffle at all); never a cartesian
    n_bhj = len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M))
    assert n_bhj >= 4, f"expected >=4 broadcast joins, plan:\n{plan[:2000]}"
    assert "CartesianProduct" not in plan
    # the date-range predicate must reach the orders parquet scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_event_queries_pin_utc_for_any_caller_session(spark):
    """The driver harness builds its own session (arbitrary timezone);
    timestamp field extraction must not depend on it."""
    baseline = {
        (r["event_id"],): (r["h"], r["dow"], r["days_since_ny"])
        for r in QUERIES["f_date_pack"].fn(spark, SF).collect()
    }
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        hostile = {
            (r["event_id"],): (r["h"], r["dow"], r["days_since_ny"])
            for r in QUERIES["f_date_pack"].fn(spark, SF).collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert hostile == baseline


def test_q4_exists_plans_as_semi_join(spark):
    plan = _plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan  # EXISTS never duplicates orders rows
    # the orderdate range prunes the orders scan before any join
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q10_topk_avoids_global_sort(spark):
    plan = _plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    # returnflag filter reaches the lineitem scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_grouping_sets_single_expand_single_agg_shuffle(spark):
    import re

    plan = _plan(spark, "gs1_grouping_sets")
    assert len(re.findall(r"^\(\d+\) Expand", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_impute_means_broadcast_back(spark):
    # per-type means must come back as a broadcast, not a fact-side shuffle
    plan = _plan(spark, "na1_null_impute")
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_is_shuffle_free(spark):
    plan = _plan(spark, "smp1_stratified_sample")
    assert "Exchange" not in plan  # pure row-local hash predicate


def test_window_navigation_single_shuffle(spark):
    import re

    plan = _plan(spark, "w7_lead_nth")
    # lead + nth_value + last_value all ride ONE user_id exchange
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_timestamp_outputs_stable_under_hostile_session_tz(spark):
    """Queries that EMIT timestamps (not just derive from them) must be
    session-timezone independent: q18 passes through o_orderdate (NTZ
    parquet), ops2/e5 derive from the UTC-pinned events loader."""
    names = ["q18_big_orders", "ops2_scd2_intervals", "e5_retention_cohort"]
    base = {}
    for n in names:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        base[n] = sorted(map(tuple, QUERIES[n].fn(spark, SF).collect()))
    try:
        for n in names:
            spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
            hostile = sorted(map(tuple, QUERIES[n].fn(spark, SF).collect()))
            assert hostile == base[n], n
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_simhash_pairs_blocked_not_nested_loop(spark):
    # Pigeonhole segment blocking: candidates come from a hash equi-join on
    # (segment, value) — never a nested-loop/cartesian over all doc pairs.
    plan = _plan(spark, "d5_simhash_pairs")
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_minhash_verification_has_no_shingle_rejoin(spark):
    # d3 verification is row-local array_intersect over per-doc shingle
    # sets: the corpus is exploded exactly once into the persisted bucket
    # frame (one Generate for shingles + one for band structs, shared by
    # both self-join sides via the InMemoryRelation) — no third/fourth
    # re-explode in the verification stage. clearCache first: a
    # MATERIALIZED InMemoryRelation prints its AQE final AND initial
    # plans, double-counting the very nodes under test.
    import re

    spark.catalog.clearCache()
    plan = _plan(spark, "d3_minhash_lsh")
    n_gen = len(re.findall(r"^\(\d+\) Generate", plan, re.M))
    assert n_gen <= 2, f"expected <=2 explodes (shingles + bands), got {n_gen}"


def test_no_query_plans_cartesian_or_rowwise_python(spark):
    """Global plan lint over the ENTIRE registry: no accidental cartesian
    products (c1 is an intentional dim×dim cross join) and no
    row-at-a-time Python UDFs (BatchEvalPython) anywhere — Python enters
    plans only as Arrow stages (MapInPandas/FlatMapGroupsInPandas)."""
    offenders = []
    for name in QUERIES:
        plan = _plan(spark, name)
        if "BatchEvalPython" in plan:
            offenders.append((name, "row-wise python"))
        if "CartesianProduct" in plan and name != "c1_cross_join":
            offenders.append((name, "cartesian"))
    assert not offenders, offenders


def test_decontaminate_broadcasts_eval_shingles(spark):
    # the eval-set probe must be a broadcast join (the corpus side never
    # shuffles for it) — one Exchange total, for the final doc rollup
    plan = _plan(spark, "x13_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_mask_is_map_only(spark):
    plan = _plan(spark, "x14_pii_mask")
    assert "Exchange" not in plan
    assert "codegen id" in plan


def test_weighted_sample_fact_side_never_shuffles(spark):
    # weights (~#sources rows) broadcast onto the doc scan; the only
    # Exchanges allowed are inside the tiny weight-aggregation subtree
    plan = _plan(spark, "smp4_weighted_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sequence_pack_single_arrow_stage(spark):
    # formatted explain prints each node twice (tree line + detail
    # header), so one physical occurrence == count 2
    plan = _plan(spark, "x15_sequence_pack")
    assert plan.count("FlatMapGroupsInPandas") == 2
    # exactly one shuffle: the bucket repartition feeding the kernel
    assert plan.count("Exchange") == 2


def test_rerank_stages_have_no_shuffle(spark):
    # n6: stage-1 PQ shortlist is map + TakeOrdered; stage-2 rerank is a
    # broadcast semi join over the shortlist — no hash/range Exchange of
    # the corpus anywhere, no sort-merge join, no window
    import re

    plan = _plan(spark, "n6_ann_rerank")
    assert "SortMergeJoin" not in plan and "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert not re.search(r"Arguments: hashpartitioning", plan)


def test_bloom_prefilter_is_mapside(spark):
    # j8: the bloom membership test must run as a Filter fed by a
    # broadcast (the one-row bits frame), BEFORE the exact part join —
    # the fact is never hash-shuffled
    import re

    plan = _plan(spark, "j8_bloom_semi_join")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2  # 1-row bits frame
    assert "BroadcastHashJoin" in plan  # the exact dim join
    # the ONLY hash exchange is the final group-by's, on its agg key —
    # the fact side itself never hash-shuffles into a join
    ex = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert [e.split("#")[0] for e in ex] == ["p_brand"], ex


def test_jaccard_pairs_plan_caps_shingle_df(spark):
    """d2's inverted-index self-join must be preceded by the max_df
    rare-shingle aggregation (the hot-key bound) and must stay a hash
    equi-join — never a nested loop over doc pairs."""
    import re

    plan = _plan(spark, "d2_jaccard_pairs")
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    # the df-cap filter: an aggregate on shingle with the <= max_df bound
    assert re.search(r"__df#\d+L? <= 50", plan), "max_df cap missing"


def test_histogram_quantiles_never_sort_values(spark):
    """a18's whole point: quantiles WITHOUT sorting values — rank
    arithmetic over 64 bucket counters. The plan must contain no
    value-domain Sort (only the window's tiny bucket sort) and exactly
    the two sketch aggregations (shard + merge) plus the final pick."""
    import re

    plan = _plan(spark, "a18_histogram_quantiles")
    assert "Join" not in plan
    # sorts: only window ordering over (grp, bucket) — never l_extendedprice
    for m in re.finditer(r"^\(\d+\) Sort\b.*\n((?:.+\n)*?)\n", plan, re.M):
        assert "l_extendedprice" not in m.group(0)
    # three HashAggregate pairs (partial+final): shard sketch, merge, pick
    n_agg = len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M))
    assert n_agg <= 6, f"unexpected extra aggregation stages: {n_agg}"


def test_kmeans_cells_assignment_is_map_only(spark):
    # k1's FINAL assignment pass (what the query plans — the iterations
    # are separate jobs): no joins, no windows; the only shuffle is the
    # k-row cell aggregation
    plan = _plan(spark, "k1_kmeans_cells")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") <= 4  # one hash agg exchange (x2 print)


def test_gopher_gate_is_map_only(spark):
    """x24: every rule is row-local — the whole gate is one codegen'd
    scan stage, no Exchange anywhere."""
    plan = _plan(spark, "x24_gopher_gate")
    assert "Exchange" not in plan
    assert "codegen id" in plan


def test_knn_join_broadcasts_queries_once(spark):
    """n7: the query side broadcasts (BroadcastNestedLoopJoin over the
    corpus scan); the only hash Exchange is the per-query top-k window."""
    import re

    plan = _plan(spark, "n7_knn_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    n_hash_ex = len(
        re.findall(r"Arguments: hashpartitioning", plan)
    )
    assert n_hash_ex <= 1, f"extra shuffles: {n_hash_ex}"


def test_compaction_plan_single_window_then_agg(spark):
    """ops5 plans over the manifest: one window (running size per
    source) feeding one hash aggregate — no joins."""
    plan = _plan(spark, "ops5_compaction_plan")
    assert "Join" not in plan
    assert plan.count("(1) Scan parquet") == 1  # manifest scanned once


def test_ewma_uses_bounded_frame(spark):
    """h3: the fold runs over a ROWS 9-preceding frame on the daily
    rollup — the plan must show the bounded window frame, not an
    unbounded running state."""
    plan = _plan(spark, "h3_ewma")
    assert "specifiedwindowframe(RowFrame, -9, currentrow" in plan
    assert "unboundedpreceding" not in plan


def test_semantic_dedup_pair_join_is_salted(spark):
    """d14: the pair join key must include the salt shard — a plain
    cent_id-only join concentrates each cell in one task."""
    plan = _plan(spark, "d14_semantic_dedup")
    assert "__shard" in plan
    assert "CartesianProduct" not in plan


def test_incremental_semantic_never_pairs_corpus_with_corpus(spark):
    """d15's corpus side appears ONLY as the build/probe of new-facing
    joins; there is no corpus-corpus self-join. Structural proxy: every
    join in the plan is an equi join on (__blk/__shard) or the id —
    and the batch self-join's both sides carry the __new filter."""
    plan = _plan(spark, "d15_incremental_semantic")
    assert "CartesianProduct" not in plan
    # the corpus filter NOT pmod(...)=0 and the batch filter pmod(...)=0
    # both appear: the two quadrant guards survive into the plan
    assert "pmod" in plan


def test_real_codec_stages_are_shuffle_free(spark):
    """m10/m11/m12: synthesize->decode chains must stay partition-local
    Arrow mapInPandas — zero Exchange anywhere in the plan."""
    for name in ("m10_real_image_decode", "m11_real_audio_decode",
                 "m12_real_frame_sample", "m13_audio_frame_features",
                 "m15_real_resize", "m16_visual_features"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name} must not shuffle"
        assert "MapInPandas" in plan, f"{name} must be Arrow mapInPandas"


def test_hard_negatives_broadcasts_anchors_and_pos(spark):
    """n12: anchors broadcast against the corpus (BroadcastNestedLoopJoin),
    the per-anchor positive max broadcasts back (BroadcastHashJoin), and
    the only hash Exchanges are the pos-agg and the top-k window — the
    corpus side never sort-merge-joins or cartesians."""
    import re

    plan = _plan(spark, "n12_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    n_hash_ex = len(
        re.findall(r"Arguments: hashpartitioning", plan)
    )
    assert n_hash_ex <= 2, f"extra shuffles: {n_hash_ex}"


def test_hypertable_point_aggs_single_window_then_agg(spark):
    """h5/h6: one bucket-keyed window (lead/lag) + one hash agg — no
    global sort, no extra exchanges beyond the shared (event_type, day)
    partitioning the window and agg both use."""
    import re

    for name in ("h5_time_weighted_avg", "h6_counter_increase"):
        plan = _plan(spark, name)
        assert "Window" in plan, name
        assert "HashAggregate" in plan, name
        # the window's hashpartitioning on (event_type, day) is the ONLY
        # hash exchange; the agg reuses it (same keys)
        n_hash_ex = len(
            re.findall(r"Arguments: hashpartitioning", plan)
        )
        assert n_hash_ex <= 1, f"{name}: extra shuffles ({n_hash_ex})"
        assert "Exchange rangepartitioning" not in plan, name


def test_ohlc_partials_combine_before_exchange(spark):
    """h7: open/close via min_by/max_by make OHLC one two-phase
    aggregate with NO window — the load-bearing property is the
    partial_min_by/partial_max_by BELOW the single exchange, so only
    O(buckets) partial states shuffle (a first/last-over-window
    formulation shuffles every raw row; the decade A/B in SCALE.md
    prices it). Spark picks SortAggregate because a string-keyed
    min_by buffer is not hash-mutable — the per-partition sort is the
    accepted CPU cost of keeping the network cost at partials-only."""
    import re

    plan = _plan(spark, "h7_ohlc_bars")
    assert "Window" not in plan
    assert "partial_min_by" in plan and "partial_max_by" in plan
    # partials must appear before (below) the exchange in execution
    # order: the formatted plan lists the partial agg node with a
    # smaller id than the exchange node
    pid = int(re.search(r"\((\d+)\) \w*Aggregate", plan).group(1))
    eid = int(re.search(r"\((\d+)\) Exchange", plan).group(1))
    assert pid < eid, "partial agg must run map-side, before the shuffle"
    n_hash_ex = len(
        re.findall(r"Arguments: hashpartitioning", plan)
    )
    assert n_hash_ex <= 1, f"extra shuffles ({n_hash_ex})"


def test_item_similarity_scans_fact_once(spark):
    """pr4: the distinct (order, part) table is persisted, so every
    consumer — both sides of the pair self-join and both n_ord lookups
    — reads the cache (4 InMemoryTableScans), and the fact parquet is
    built into the cache once at runtime (the formatted explain repeats
    the cached build plan per reference, so we count cache reads, not
    the textual 'Scan parquet' echoes); no cartesian anywhere."""
    plan = _plan(spark, "pr4_item_similarity")
    assert "CartesianProduct" not in plan
    n_cache_reads = plan.count("InMemoryTableScan")
    assert n_cache_reads >= 4, f"cache reads: {n_cache_reads}"


def test_edit_distance_dedup_blocked_equi_join(spark):
    """d17: the pair join must be an EQUI join on the prefix block key
    — never a cartesian / nested-loop — with the O(len^2) levenshtein
    evaluated only on post-join survivors; the capped docs frame is
    persisted so both self-join sides read ONE cache (the
    containment_pairs rule) instead of re-running scan + block-cap."""
    plan = _plan(spark, "d17_edit_distance_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    # two cache consumers (formatted explain repeats the cached BUILD
    # plan at each reference — count InMemoryTableScans, the pr4 rule)
    assert plan.count("InMemoryTableScan") >= 2


def test_vocab_coverage_broadcasts_vocab(spark):
    """x33: the top-k vocab (k rows by construction) must reach the
    per-(source, token) table as a BROADCAST join — never a shuffle
    keyed on the corpus side — and the vocab pick itself must plan as
    TakeOrderedAndProject (per-partition heaps + k-row merge), NOT a
    single-partition global-order window over the distinct-token
    table, which is corpus-vocabulary cardinality (round-7 ADVICE)."""
    plan = _plan(spark, "x33_vocab_coverage")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    # the only window left is the per-source top-OOV rank (partitioned
    # by source) — no empty-partitionBy global window anywhere
    assert "Exchange SinglePartition" not in plan


def test_incremental_agg_merge_is_one_key_join(spark):
    """ops6: base and delta states are each a two-phase hash agg, and
    the merge is ONE full-outer equi join on the group key — no
    cartesian, no re-aggregation after the join (the merged columns
    are row-local coalesce arithmetic)."""
    import re

    plan = _plan(spark, "ops6_incremental_agg")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" in plan
    # row-local merge: in the top-down tree the join sits ABOVE both
    # state aggregates (nothing re-aggregates the merged rows)
    assert plan.index("FullOuter") < plan.index("HashAggregate")
    # exactly the two state exchanges, both keyed on the group key
    ex = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert [e.split("#")[0] for e in ex] == ["o_custkey"] * 2, ex
    # the base/delta date split reaches BOTH parquet scans: base pushes
    # the strict less-than, delta pushes the NULL-inclusive complement
    pushed = [
        ln for ln in plan.splitlines()
        if "PushedFilters" in ln and "o_orderdate" in ln
    ]
    assert len(pushed) == 2, pushed
    assert any("LessThan(o_orderdate" in ln for ln in pushed)
    assert any(
        "GreaterThanOrEqual(o_orderdate" in ln and "IsNull" in ln
        for ln in pushed
    ), pushed


def test_cross_source_overlap_distinct_before_pair_join(spark):
    """d18: the (source, head) DISTINCT must collapse BELOW the pair
    self-join (each md5 key then carries at most n_sources rows, the
    fanout bound), the tiny size tables must broadcast, and nothing
    may go cartesian."""
    plan = _plan(spark, "d18_cross_source_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # in the top-down tree the pair join sits above the distinct aggs
    assert plan.index("Join") < plan.index("HashAggregate")


def test_attribution_windows_share_one_shuffle(spark):
    """e9: the carry-forward rows-window and the range-frame touch
    count must ride ONE user_id exchange (same partitioning, only the
    intra-partition sort differs) — two Window operators, one
    Exchange, no join at all."""
    import re

    plan = _plan(spark, "e9_attribution")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 2
    assert "Join" not in plan


def test_dedup_recall_reuses_both_pair_caches(spark):
    """ev5: truth (d2) and detected (d3) pair frames each feed a count
    AND the hit join — both must be persisted so their full shingle/
    banding plans build once (>=4 cache consumers); the only nested-
    loop joins are the sanctioned broadcast crossJoins of 1-row
    aggregates (the ratio-to-report shape)."""
    plan = _plan(spark, "ev5_dedup_recall")
    assert plan.count("InMemoryTableScan") >= 4
    assert "CartesianProduct" not in plan


def test_column_profile_single_scan(spark):
    """dq3: all five columns' profiles fuse into aggregates over ONE
    table read (the multi-countDistinct Expand still feeds from a
    single scan); the long-form output is a plan-level unpivot, never
    a second read."""
    import re

    plan = _plan(spark, "dq3_column_profile")
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_peak_concurrency_sweep_is_bucket_partitioned(spark):
    """h8: the sweep's running sum must be a BUCKET-partitioned window
    (the two-pass prefix sum), never a global window over the delta
    rows — the only unpartitioned windows run over the O(weeks) carry
    table and e2's per-user session numbering is user-partitioned."""
    import re

    plan = _plan(spark, "h8_peak_concurrency")
    assert "CartesianProduct" not in plan
    # the SWEEP spec: partitioned by bucket, ordered by ts — the carry
    # window (ORDER BY bucket, no ts) must not satisfy this assert
    assert re.search(
        r"windowspecdefinition\(bucket#\d+, ts#\d+", plan
    ), "bucket-PARTITIONED ts-ordered sweep window missing"
    assert "windowspecdefinition(user_id" in plan


def test_robust_outliers_broadcasts_stats_back(spark):
    """dq4: the 5-row med/mad tables must come back as BROADCAST joins
    (never a fact-side shuffle), and the three passes read the ONE
    persisted two-column projection."""
    plan = _plan(spark, "dq4_robust_outliers")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("InMemoryTableScan") >= 3


def test_ngram_novelty_gram_keyed_shuffles_only(spark):
    """x34: both shuffles (df count, join-back) key on the gram; the
    doc-distinct frame is persisted for its two consumers; never a
    cartesian."""
    plan = _plan(spark, "x34_ngram_novelty")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("InMemoryTableScan") >= 2


def test_filtered_ann_stays_collapsed(spark):
    """n14: the label filter must ride n3's collapsed map-only shape —
    zero joins, zero exchanges, the predicate evaluated before the
    TakeOrdered (never a post-top-k filter)."""
    plan = _plan(spark, "n14_filtered_ann")
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan


def test_image_content_dedup_shuffles_digests_only(spark):
    """m14: synthesize + decode are map-local (MapInPandas, no
    exchange below them); the dedup is d1's single hash-agg shuffle —
    one Exchange total, carrying digests and dims, never pixels."""
    import re

    plan = _plan(spark, "m14_image_content_dedup")
    assert "MapInPandas" in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_perceptual_hash_single_digest_exchange(spark):
    """m17: synthesize->decode->dhash is one partition-local
    mapInPandas chain; the ONLY exchange is the final group on the two
    32-bit digest halves."""
    import re

    plan = _plan(spark, "m17_perceptual_hash")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan and "Join" not in plan
    n_ex = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_ex == 1, f"expected 1 digest exchange, saw {n_ex}"


def test_referential_integrity_broadcasts_dims(spark):
    """dq6: the four dim-parent audits must broadcast the DISTINCT
    parent keys against the child scan (never shuffle the fact side on
    a dim key); no cartesian anywhere."""
    plan = _plan(spark, "dq6_referential_integrity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_conversion_paths_one_user_window(spark):
    """e13: all three lags ride ONE (user_id) window (one Window node,
    one user_id exchange); the path agg adds the only other exchange
    and is map-side combined (partial_count below it)."""
    import re

    plan = _plan(spark, "e13_conversion_paths")
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1
    n_ex = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_ex == 2, f"expected window + path-agg exchanges, saw {n_ex}"
    assert "partial_count" in plan


def test_image_neardup_is_banded_not_allpairs(spark):
    """m18: candidates must come from band-bucket equi-joins over the
    PERSISTED dhash frame (one codec pass feeds both sides) — no
    cartesian, no nested-loop; verification is row-local popcount."""
    plan = _plan(spark, "m18_image_neardup_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bit_count" in plan
    # both join sides read the ONE persisted dhash build (pr4 rule:
    # count InMemoryTableScans, not Scan echoes)
    assert plan.count("InMemoryTableScan") >= 2


def test_scene_cuts_is_shuffle_free(spark):
    """m19: synthesize->decode->frame-diff is one partition-local
    mapInPandas chain — zero Exchange anywhere."""
    plan = _plan(spark, "m19_video_scene_cuts")
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_rfm_score_maps_broadcast_back(spark):
    """e14: the three alphabet-sized score maps must come back to the
    customer frame as BROADCAST joins (never a customer-side shuffle
    on a score key), the max-date is a broadcast 1-row crossJoin, and
    the customer grain builds from ONE persisted agg feeding all four
    consumers."""
    plan = _plan(spark, "e14_rfm_segmentation")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row max-date
    assert "SortMergeJoin" not in plan
    assert plan.count("InMemoryTableScan") >= 4


def test_interval_overlap_claim_rule_needs_no_distinct(spark):
    """j10: the claim rule (pair counts only in the bucket holding
    greatest(s_a, s_b)) must replace a distinct — NO aggregate exists
    in the plan, candidates come from the two bucket exchanges, never
    a cartesian."""
    import re

    plan = _plan(spark, "j10_interval_overlap_join")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    n_ex = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_ex <= 2, f"expected at most the 2 bucket exchanges: {n_ex}"


def test_dwell_time_two_windows_two_exchanges(spark):
    """h9: the lead rides ONE user_id exchange; the share window runs
    on the event-type-alphabet agg (tiny by construction); nothing
    else shuffles."""
    import re

    plan = _plan(spark, "h9_dwell_time")
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 2
    n_ex = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_ex == 2, f"user window + type agg exchanges expected: {n_ex}"


def test_association_rules_broadcast_maps_one_basket_exchange(spark):
    """pr5: the deduped basket frame is persisted once and feeds all
    three consumers; item counts and the 1-row total come back as
    broadcasts; the only non-broadcast join is the per-basket
    self-join."""
    plan = _plan(spark, "pr5_association_rules")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan  # 1-row basket total
    assert plan.count("InMemoryTableScan") >= 4


def test_png_metadata_chain_is_shuffle_free(spark):
    """m20: synthesize->chunk-walk is one partition-local mapInPandas
    chain — zero Exchange."""
    plan = _plan(spark, "m20_png_metadata")
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_x22_topk_is_take_ordered(spark):
    """x22: the top-100 vocabulary head must come from distributed
    TakeOrdered (per-partition heaps), never a single-partition rank
    window — raw space-split vocabularies run to billions of distinct
    tokens on web-scale text (r12 verdict, What's wrong #1)."""
    plan = _plan(spark, "x22_vocab_coverage")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


# Every W.orderBy(...) WITHOUT a partitionBy draws its whole input into
# one partition. That is only acceptable when the windowed frame is
# grain-bounded — sized by a calendar, a bucket alphabet, a source list,
# or an upstream top-k — never by the corpus. This allow-list enumerates
# every such site with its justification; adding a new unpartitioned
# window without updating it fails the sweep below, so the x22 class of
# note-vs-plan drift (scale note says "small", plan says "everything")
# cannot recur silently.
_UNPARTITIONED_WINDOW_ALLOWLIST = {
    "plans/analytics.py": {
        "w6_rolling_7day": "day-grain revenue series (calendar-bounded)",
        "w8_running_distinct": "day-grain first-seen series",
        "m9_seasonal_decompose": "day-grain series (calendar-bounded)",
        "smp7_quota_allocation": "source-grain remainder ranks "
        "(#sources rows, model-sized)",
        "h8_peak_concurrency": "week-bucket sweep (calendar-bounded)",
        "score_map": "e14 CDF maps over a metric's VALUE ALPHABET "
        "(distinct values of day-counts / order-counts / floored spend; "
        "written 'bucket coarser' escape hatch in its scale note)",
        "smp8_unimax_allocation": "source-grain waterfill cumsum "
        "(#sources rows)",
        "x50_curriculum_order": "source-grain interleave spine "
        "(#sources rows)",
        "h11_cusum_changepoint": "day-grain cumsum (calendar-bounded)",
        "zscore_flags": "h10 day-grain trailing stats "
        "(calendar-bounded)",
        "h13_kaplan_meier": "risk-set cumsum + survival ln-sum both "
        "run over the user-DURATION alphabet (<= #days rows, "
        "calendar-bounded)",
        "a20_weighted_quantile": "token-mass cumsum over the "
        "doc-length VALUE ALPHABET (<= max-tokens-per-doc rows, "
        "corpus-independent; 'bucket coarser' escape hatch in its "
        "scale note)",
        "g9_moving_annual_total": "MAT RANGE window over the "
        "month-grain rollup (calendar-bounded, ~1200 rows/century; "
        "'partition by year-of-window' escape hatch in its scale "
        "note)",
        "ops9_overlap_depth": "partition-endpoint sweep cumsum "
        "(2 x #partitions rows, manifest-sized)",
    },
    "operators/textstats.py": {
        "bpe_pair_counts": "rank runs AFTER orderBy().limit(top_n) — the "
        "windowed frame is the already-top-k result, model-sized",
    },
}


def test_unpartitioned_windows_are_grain_bounded():
    """Source sweep: every W.orderBy/Window.orderBy without partitionBy
    must appear in the justified allow-list above (r12 verdict Next #4)."""
    import re
    from pathlib import Path

    pkg = Path(
        __import__(
            "retail_data_pipeline_and_forecasting_system_spark"
        ).__file__
    ).parent
    pat = re.compile(r"\b(?:W|Window)\.orderBy\(")
    defpat = re.compile(r"^\s*def\s+(\w+)")
    found: dict[str, set] = {}
    for py in pkg.rglob("*.py"):
        rel = str(py.relative_to(pkg))
        lines = py.read_text().splitlines()
        owner = None
        for line in lines:
            m = defpat.match(line)
            if m:
                owner = m.group(1)
            if pat.search(line):
                found.setdefault(rel, set()).add(owner)
    allowed = {
        f: set(names) for f, names in _UNPARTITIONED_WINDOW_ALLOWLIST.items()
    }
    unexpected = {
        f: names - allowed.get(f, set()) for f, names in found.items()
    }
    unexpected = {f: n for f, n in unexpected.items() if n}
    assert not unexpected, (
        "unpartitioned window(s) outside the justified allow-list — "
        f"either partition them or justify them here: {unexpected}"
    )
    stale = {
        f: allowed[f] - found.get(f, set())
        for f in allowed
        if allowed[f] - found.get(f, set())
    }
    assert not stale, f"allow-list entries no longer in source: {stale}"


def test_x56_pii_scrub_is_map_side_plus_one_exchange(spark):
    """x56: regex counts run in the scan projection (JVM codegen);
    the ONLY exchange is the source-keyed agg — no Python, no sort."""
    plan = _plan(spark, "x56_pii_scrub")
    assert plan.count("Exchange") <= 2  # partial->final agg exchange
    assert "BatchEvalPython" not in plan
    assert "Sort " not in plan
    assert plan.count("HashAggregate") >= 2  # map-side combine


def test_dq12_checksums_no_sort_no_window(spark):
    """dq12: ten independent global aggs — the commutative digest
    needs no order, so no Sort/Window may appear anywhere."""
    plan = _plan(spark, "dq12_replica_checksum")
    assert "Sort " not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 20  # partial+final x 10


def test_e16_transitions_one_stream_exchange(spark):
    """e16: the user-keyed window is the only stream-proportional
    exchange; the probability window is partitioned (matrix-grain)."""
    plan = _plan(spark, "e16_markov_transitions")
    assert "hashpartitioning(user_id" in plan
    assert "hashpartitioning(prev_type" in plan  # partitioned, bounded


def test_e17_bot_flagging_user_keyed_only(spark):
    """e17: every exchange is user-keyed (or the user x type agg that
    collapses to it) — no global window, no sort."""
    plan = _plan(spark, "e17_bot_flagging")
    import re

    parts = re.findall(r"hashpartitioning\((\w+)", plan)
    assert parts and all(p in ("user_id", "event_type") for p in parts)


def test_x57_token_budget_no_corpus_window(spark):
    """x57: everything after the token agg runs on the source-grain
    frame; the normalizer is an ordered FOLD over a collected
    model-sized array, never a Window."""
    plan = _plan(spark, "x57_token_budget")
    assert "Window" not in plan
    assert "BroadcastExchange" in plan  # totals/normalizer ride back
