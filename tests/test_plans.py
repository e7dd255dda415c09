"""Physical-plan assertions: the properties the 100 TB design depends on
— dim joins broadcast, filters reach the parquet scan, no accidental
cartesian products, whole-stage codegen covers the hot path. A plan
regression here is a scale bug even when results stay correct.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from uforwarder_spark.registry import QUERIES


def plan_of(spark, name: str) -> str:
    return QUERIES[name](spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()


def window_partition_keys(spark, name: str) -> list:
    """Partition-key column names of every Window node in the OPTIMIZED
    logical plan, one list per node — structural (plan-tree JSON), not
    a string-format heuristic (ADVICE r07): an empty inner list IS a
    global window, and key names are read from AttributeReference
    nodes, so a Spark version changing plan *formatting* can neither
    break this nor let it pass vacuously."""
    import json

    df = QUERIES[name](spark, SF_SMALL)
    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    specs = []
    for n in nodes:
        if n.get("class", "").endswith("logical.Window"):
            keys = []
            for expr_tree in n.get("partitionSpec") or []:
                for en in expr_tree:
                    if en.get("class", "").endswith("AttributeReference"):
                        keys.append(en.get("name"))
            specs.append(keys)
    return specs


@pytest.mark.parametrize(
    "name",
    ["route_messages", "tpch_q3_shipping_priority", "tpch_q5_local_supplier", "ann_topk_ivf"],
)
def test_dim_joins_are_broadcast(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan  # a dim-side SMJ means a wasted big shuffle


@pytest.mark.parametrize(
    "name,pushed",
    [
        ("fetch_offset_range", "event_id"),  # offset range → row-group pruning
        ("tpch_q6_forecast_revenue", "l_shipdate"),  # range filter → scan
        ("batch_job_offsets", "ts"),  # time bounds → scan (date dirs at scale)
    ],
)
def test_filters_push_to_scan(spark, name, pushed):
    plan = plan_of(spark, name)
    assert "PushedFilters" in plan
    seg = plan.split("PushedFilters")[1][:300]
    assert pushed in seg, f"{pushed} not pushed: {seg}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_products(spark, name):
    # the only sanctioned cross joins are broadcast of 1-row query vectors
    # / control-plane worker lists — never a partitioned cartesian
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name} has a partitioned cartesian product"


@pytest.mark.parametrize(
    "name", ["tpch_q1_pricing_summary", "ack_commit_watermark", "throughput_windows"]
)
def test_hot_path_in_codegen(spark, name):
    # AQE wraps codegen inside query stages where the plan string can't
    # show it; planning the same query without AQE proves the operators
    # whole-stage-compile (AQE only re-plans exchanges, not codegen).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES[name](spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # '*(n) ' prefixes mark operators inside WholeStageCodegen stage n
    assert "*(1)" in plan


@pytest.mark.parametrize(
    "name",
    ["tpch_q1_pricing_summary", "latency_percentiles", "throughput_windows", "dlq_messages"],
)
def test_aggs_are_partial(spark, name):
    # map-side combine: HashAggregate appears in partial + final pairs
    plan = plan_of(spark, name)
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()


@pytest.mark.parametrize("name", ["checkpoint_resume", "dlq_purge"])
def test_watermark_family_stays_sort_free(spark, name):
    # A21/A22 reuse the sort-free A5 shape: two hash aggs + a broadcast
    # heads join — an ordered window sneaking in is the 100 TB regression
    # (fixed key space ⇒ O(n log n) per hot key; see docs/SCALE.md)
    plan = plan_of(spark, name)
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_ngram_jaccard_plan_has_no_corpus_window(spark):
    # the prefix filter must be hash-agg based: a Window over exploded
    # tokens is the formulation that measured 9x slower (docs/SCALE.md)
    plan = plan_of(spark, "ngram_jaccard_pairs")
    assert "Window" not in plan


@pytest.mark.parametrize("name", ["autoscale_prediction"])
def test_new_aggs_are_partial(spark, name):
    plan = plan_of(spark, name)
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()


@pytest.mark.parametrize("name", ["scale_window_proposal", "reactive_downscale_window"])
def test_scale_window_data_stage_is_one_partial_agg(spark, name):
    # B16/B17: the only data-sized stage is the (topic, window) count —
    # it must partial-aggregate; the histogram walk's window functions
    # run over O(topics x 100) rows only (partitioned by topic), never
    # over the message log
    plan = plan_of(spark, name)
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()


@pytest.mark.parametrize("name", ["pii_redaction"])
def test_pii_redaction_is_shuffle_free_map(spark, name):
    # D28 is a pure per-row regexp map: a hash/range Exchange means the
    # scrub stopped being embarrassingly parallel (load_parallel's
    # round-robin spread of the single tiny test file is fine)
    plan = plan_of(spark, name)
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "pythonUDF" not in plan  # regexps stay JVM-side


def test_bpe_pairs_count_map_side(spark):
    # D27: pair counting partial-aggregates before the shuffle so a hot
    # pair ships one row per partition; top-K must not global-sort the
    # pair table (window-group-limit / per-partition top-K instead)
    plan = plan_of(spark, "bpe_merge_pairs")
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()
    assert "WindowGroupLimit" in plan or "TakeOrdered" in plan


def test_delay_process_shuffles_once(spark):
    # A24: the pause-ledger window partitions by (topic, part_id) and the
    # groupBy keys are a superset, so HashPartitioning(topic, part_id)
    # satisfies both — a second hash exchange means Catalyst stopped
    # reusing the shuffle (2x the operator's only message-scale cost)
    plan = plan_of(spark, "delay_process")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastHashJoin" in plan  # O(topics) delay config never shuffles


@pytest.mark.parametrize(
    "name",
    ["worker_pipeline_summary", "partition_assignment", "worker_lease_reassignment", "delay_process"],
)
def test_constant_tables_are_local_relations(spark, name):
    # routes, workers and delays live in the plan (LocalTableScan); an
    # RDD-backed table (Scan ExistingRDD) costs defaultParallelism Python
    # tasks on every action that reads it, its broadcast included
    plan = plan_of(spark, name)
    assert "LocalTableScan" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_dlq_dispatch_tokens_shuffles_once(spark):
    # A25: the range window partitions by (topic, part_id) and the
    # summary groupBy uses the same keys — one hash exchange total
    plan = plan_of(spark, "dlq_dispatch_tokens")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_batch_job_completion_aggs_are_partial(spark):
    # B18: the only message-scale stage is the per-job offsets agg — it
    # must map-side combine; the state step + group rollup window run on
    # the O(jobs) control-plane frame
    plan = plan_of(spark, "batch_job_completion")
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()


def test_int8_quantize_codebook_broadcasts(spark):
    # D31: the 2xDIM codebook reaches every vector via a 1-row broadcast
    # cross join; vectors never hash-shuffle (only the 64-group dim agg
    # exchanges), and all folds stay JVM-side
    plan = plan_of(spark, "embedding_int8_quantize")
    assert "BroadcastNestedLoopJoin" in plan
    assert "pythonUDF" not in plan


def test_containment_join_is_df_capped(spark):
    # D30: both self-join sides must consume the df-filtered chunk table;
    # an unfiltered chunks-to-chunks join is the corpus-quadratic shape
    # the C_DF_CAP bound exists to prevent
    from uforwarder_spark.functions.text import C_DF_CAP, containment_pairs

    df = containment_pairs(spark, SF_SMALL)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert f"<= {C_DF_CAP}" in optimized, "df cap filter was optimized away"
    assert ">= 2" in optimized, "df >= 2 prefilter was optimized away"
    plan = plan_of(spark, "containment_pairs")
    assert "CartesianProduct" not in plan


def test_frame_sample_payload_never_shuffles(spark):
    # D29: the binary payload exists only between the scan and the
    # Arrow stage — an Exchange would ship blob bytes across the cluster
    plan = plan_of(spark, "multimodal_frame_sample")
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


@pytest.mark.parametrize(
    "name",
    ["fetcher_throughput", "corpus_shuffle_export", "sequence_packing"],
)
def test_round3_single_shuffle_ops(spark, name):
    """A28/D32/D33 are one-shuffle plans: a single hash exchange,
    no joins, no global sort."""
    plan = plan_of(spark, name)
    assert plan.count("Exchange hashpartitioning") == 1, name
    assert "SortMergeJoin" not in plan and "Exchange SinglePartition" not in plan, name


def test_littles_law_bounded_memory_plan(spark):
    """A30 traded its single-shuffle plan for bounded memory: the
    counts-based median adds two aligned keyed exchanges (cell agg +
    shard window) — but no buffer-every-value aggregate, no SMJ (the
    shard-keyed med frame broadcast-joins), no single-partition stage."""
    plan = plan_of(spark, "latency_littles_law")
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan


def test_dlq_produce_batches_aligned_aggs(spark):
    """A29: two partial aggs on aligned keys, no windows/joins."""
    plan = plan_of(spark, "dlq_produce_batches")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_inflight_bootstrap_broadcast_phase_join(spark):
    """A26: phase table broadcasts onto pending rows — never an SMJ of
    the log against itself."""
    plan = plan_of(spark, "inflight_bootstrap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mixture_interleave_has_no_single_partition_stage(spark):
    """D34: the round-3 verdict flagged the global position row_number as
    a single-reducer scale-killer. The rewrite (range sort + two-pass
    partition-offset index) must plan with ZERO SinglePartition exchanges
    and zero global-order Windows — every stage stays partitioned."""
    plan = plan_of(spark, "mixture_interleave")
    assert "Exchange SinglePartition" not in plan, plan
    # every window spec is the per-source rank (partitioned by source);
    # a partition-less spec opens straight with the ORDER column instead
    for i in range(len(plan)):
        if plan.startswith("windowspecdefinition(", i):
            seg = plan[i : i + 60]
            assert seg.startswith("windowspecdefinition(source#"), seg
    assert "Exchange rangepartitioning" in plan  # the one wide exchange


@pytest.mark.parametrize("name", ["tpch_q7_volume_shipping", "tpch_q8_market_share"])
def test_q7_q8_single_fact_shuffle(spark, name):
    # dims (supplier/customer/nation/region/part) broadcast; the ONLY
    # shuffle join is lineitem⋈orders on orderkey — more than one SMJ
    # means a dim fell off the broadcast path
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 1


def test_q17_fact_never_shuffles_for_joins(spark):
    # brand-filtered part AND the per-partkey avg frame both broadcast
    # back onto lineitem — zero shuffle joins
    plan = plan_of(spark, "tpch_q17_small_quantity")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q13_aggs_are_partial(spark):
    plan = plan_of(spark, "tpch_q13_customer_distribution")
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()


def test_q9_single_fact_shuffle(spark):
    # part / supplier+nation broadcast; only lineitem⋈orders shuffles
    plan = plan_of(spark, "tpch_q9_product_profit")
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 1


def test_q22_anti_join_and_broadcast_threshold(spark):
    plan = plan_of(spark, "tpch_q22_idle_balances")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_int8_rescore_is_top_c_merge_not_full_sort(spark):
    # D42: both stages must be TakeOrderedAndProject (per-partition
    # top-C + tiny driver merge), never a global Sort exchange; codebook
    # and query rows reach the scan via 1-row broadcasts
    plan = plan_of(spark, "ann_topk_int8_rescore")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "pythonUDF" not in plan


def test_phash_dedup_payload_stays_in_map_stage(spark):
    # D64: the binary payload must never enter an exchange — only the
    # 64-char hash shuffles; band join is an equi-join, not a cartesian.
    # Since r13 the Python fingerprint pass runs inside the ph/g
    # localCheckpoint jobs (the §F cache-race fix), so the Python-node
    # and payload assertions run on the PRE-checkpoint fingerprint
    # frame's own plan, and the closed plan must read the checkpointed
    # hash frames.
    import re

    from pyspark.sql import functions as F

    from uforwarder_spark.functions.multimodal import phash_frame
    from uforwarder_spark.model import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    bins = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    ph_plan = phash_frame(bins)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in ph_plan or "MapInPandas" in ph_plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", ph_plan):
        assert "payload" not in m.group(1)
    plan = plan_of(spark, "multimodal_phash_dedup")
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # checkpointed fingerprint frames
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "payload" not in m.group(1)


def test_phash_dedup_kernel_runs_once(spark):
    # D64 ordering invariant: ph persists lazily and g's EAGER
    # localCheckpoint is ph's only consumer when it runs, so that one
    # job fills ph's whole cache. The final action must then read ph
    # from the cache and never run the Arrow phash kernel again. Breaks
    # if ph's persist() is dropped, or if g is left unmaterialized or
    # only lazily persisted at build time.
    from uforwarder_spark.functions.multimodal import multimodal_phash_dedup

    def nodes(plan):
        out = [plan]
        for i in range(plan.children().size()):
            out += nodes(plan.children().apply(i))
        return out

    def kernel_rows(cached_plan):
        (k,) = [n for n in nodes(cached_plan) if n.nodeName() == "MapInPandas"]
        return k.metrics().apply("pythonNumRowsReceived").value()

    spark.catalog.clearCache()  # an earlier test's ph entry would be reused
    df = multimodal_phash_dedup(spark, SF_SMALL)
    ph = [
        n.cacheBuilder()
        for n in nodes(df._jdf.queryExecution().optimizedPlan())
        if n.nodeName() == "InMemoryRelation"
        and "MapInPandas" in n.cacheBuilder().cachedPlan().toString()
    ]
    assert ph, "the fingerprint frame is not cached"
    assert all(b.isCachedColumnBuffersLoaded() for b in ph)
    filled = [kernel_rows(b.cachedPlan()) for b in ph]
    n = len(df.collect())
    assert n > 0
    assert [kernel_rows(b.cachedPlan()) for b in ph] == filled == [n] * len(ph)
    spark.catalog.clearCache()


def test_phash_incremental_payload_stays_local_and_no_self_join(spark):
    # D65: payloads never enter an exchange; the only joins are the
    # asymmetric incoming-x-corpus band probe and the decision joins —
    # no cartesian, no corpus self-join blowup at the doc level
    import re

    plan = plan_of(spark, "phash_incremental_dedup")
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "payload" not in m.group(1)
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_embedding_agreement_pairs_join_is_not_cartesian(spark):
    # D66: the verified-pairs frame joins the embeddings table on its
    # key (broadcast or hash join), never a cartesian; the heavy work
    # stays inside D2's bucketed subtree
    plan = plan_of(spark, "dedup_embedding_agreement")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_dsir_selection_is_limit_first_no_window(spark):
    # D63 (round-10 stage cut): the 256-bucket model folds back into
    # the scoring scan as a LITERAL decimal array — the scoring pass
    # must carry NO join and NO broadcast exchange at all; selection
    # stays TakeOrderedAndProject (never a global Sort or a rank
    # window over the corpus), and both aggs partial-combine
    plan = plan_of(spark, "dsir_selection")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "Join" not in plan  # model applied map-side via literal lookup
    assert "BroadcastExchange" not in plan
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan


def test_ivf_int8_probes_broadcast_and_topk_is_limit_first(spark):
    # D62: coarse-probe cell list and codebook reach the scan as
    # broadcasts; both top stages are TakeOrderedAndProject (never a
    # global Sort exchange); the cell filter is a broadcast hash join
    # (pruning), not a shuffle; no Python in the hot path
    plan = plan_of(spark, "ann_topk_ivf_int8")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # probed-cell membership prune
    assert "BroadcastNestedLoopJoin" in plan  # codebook + query rows
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan


def test_bloom_prefilter_bitset_broadcasts(spark):
    # D43: the bitset reaches the incoming side via a 1-row broadcast
    # (O(m) regardless of corpus size); the exact join must be on the
    # hash key, not a cartesian
    plan = plan_of(spark, "bloom_dedup_prefilter")
    assert "BroadcastNestedLoopJoin" in plan  # the bitset row
    assert "CartesianProduct" not in plan


def test_bloom_prefilter_clean_misses_skip_exchange(spark):
    # D43 (round-4 verdict #3): the exact-join subtree must be gated by
    # the Bloom verdict — a Filter on maybe_dup sits BELOW the hash-join
    # exchange, so clean misses never get hash-partitioned on h. The
    # clean-miss branch rejoins via Union after the join.
    import re

    plan = plan_of(spark, "bloom_dedup_prefilter")
    assert "Union" in plan
    # every hash-partitioned exchange on h must sit above a maybe_dup
    # filter, i.e. the join-side subtree carries the forall(...) gate
    assert re.search(r"Filter.*forall", plan, re.DOTALL)
    # negative gate: the pre-fix shape put maybe_dup INSIDE the join
    # condition; the fixed shape has a plain equi-join on h = eh only
    m = re.search(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*", plan)
    assert m and "forall" not in m.group(0)


def test_zipf_window_is_partitioned_by_source(spark):
    # D44: the rank window must carry a per-source partition key — a
    # global (empty-partition-spec) window would funnel the vocabulary
    # through one reducer
    plan = plan_of(spark, "zipf_fit")
    assert "Window" in plan
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("source" in s for s in specs)


def test_entropy_aggs_are_partial(spark):
    # D45: both gram counts must map-side combine before the exchange
    plan = plan_of(spark, "ngram_entropy")
    assert plan.count("HashAggregate") >= 4
    assert "Window" not in plan  # entropy needs no windows at all


def test_resize_payload_never_shuffles(spark):
    # D46: the binary payload stays inside the map stage — no exchange
    # may carry the payload column, and the stage is Arrow-batched
    plan = plan_of(spark, "multimodal_resize")
    assert "Exchange" not in plan.split("MapInPandas")[0] or "payload" not in plan.split(
        "Exchange"
    )[-1]
    assert "MapInPandas" in plan


def test_ares_window_rewrites_to_group_limit(spark):
    # D47: the rank filter must plan as per-partition WindowGroupLimit —
    # a plain Window would sort every source's full doc list
    plan = plan_of(spark, "weighted_sample_ares")
    assert "WindowGroupLimit" in plan


def test_q19_envelopes_push_to_both_scans(spark):
    # C22: the hand-derived envelopes must reach BOTH parquet scans —
    # quantity range on lineitem, the (brand, size) disjunction on part —
    # and the join must broadcast (never SMJ on a dim join)
    plan = plan_of(spark, "tpch_q19_disjunctive_filter")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    pushed = plan.split("PushedFilters")
    assert any("l_quantity,30" in s[:200] for s in pushed[1:])
    assert any("p_brand" in s[:200] for s in pushed[1:])


def test_cms_grid_is_fixed_width_partial_agg(spark):
    # D48: the counter grid must map-side combine (fixed d*w cells per
    # partition) and reach the probes via broadcast — never SMJ
    plan = plan_of(spark, "cms_heavy_hitters")
    assert plan.count("HashAggregate") >= 4
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_hll_registers_aggregate_map_side(spark):
    # D49: register build is a (source, reg) MAX agg — partial pairs
    # per partition are capped at |sources|*64 regardless of corpus
    plan = plan_of(spark, "hll_distinct_tokens")
    assert plan.count("HashAggregate") >= 4
    assert "CartesianProduct" not in plan


def test_length_bucketing_is_single_partial_agg(spark):
    # D50: one scan, one fixed-width partial agg; token arrays stay in
    # the map stage
    plan = plan_of(spark, "length_bucketing")
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan and "SortMergeJoin" not in plan


def test_overlap_matrix_source_joins_broadcast(spark):
    # D51: doc->source joins must broadcast; the heavy lifting is D2's
    # band join, nothing new shuffles doc-level data
    plan = plan_of(spark, "source_overlap_matrix")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_znorm_topk_has_no_global_sort_or_window(spark):
    # D53: series build is an in-row array sort inside a partial agg;
    # the ranking must be TakeOrderedAndProject (per-partition top-k),
    # never a corpus-wide Sort/Window
    plan = plan_of(spark, "timeseries_znorm_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["vocab_topk", "bpe_merge_pairs", "cms_heavy_hitters"])
def test_global_topk_is_take_ordered_not_single_reducer_window(spark, name):
    # Global top-K must plan as TakeOrderedAndProject (per-partition
    # top-K + tiny merge). Spark's InferWindowGroupLimit does NOT fire
    # for empty partition specs, so a rank-filter formulation would
    # funnel the whole vocabulary through ONE Window partition.
    plan = plan_of(spark, name)
    assert "TakeOrderedAndProject" in plan


def test_hdr_sketch_is_fixed_width_partial_agg(spark):
    # D54: the bucket-count sketch must map-side combine (fixed <=137
    # cells per topic per partition); the only windows run over the
    # sketch frame, and the exact percentile is the audit branch only
    plan = plan_of(spark, "hdr_histogram_quantiles")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["funnel_conversion", "retention_cohorts"])
def test_events_analytics_shuffle_on_scaling_keys(spark, name):
    # C23/C24: every event-scale agg shuffles on user_id (cardinality
    # scales with data); windows only over control-plane-sized frames
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_cdc_fanout_happens_in_row_before_single_shuffle(spark):
    # D55: chunk explosion is row-local; the only wide exchange is the
    # uniform (chunk_hash) agg + join — never pairwise, never windowed
    plan = plan_of(spark, "cdc_chunking")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_is_single_window_no_join(spark):
    # C25: the asof must plan as ONE user-partitioned window over the
    # unioned stream — no join operator at all (the naive formulation's
    # views x purchases blow-up is the anti-pattern)
    plan = plan_of(spark, "asof_join_purchases")
    assert "Window" in plan
    assert "Join" not in plan


def test_range_join_rides_the_equi_key(spark):
    # C26: the interval predicate must ride a hash join on user_id —
    # never BroadcastNestedLoop over the fact side, never cartesian
    plan = plan_of(spark, "range_join_error_impact")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_cube_is_one_pass_expand(spark):
    # C27: the cube must expand BEFORE one partial agg (a 4x Expand +
    # HashAggregate pair), not four scans
    plan = plan_of(spark, "cube_revenue")
    assert "Expand" in plan
    assert plan.count("FileScan") <= 3  # orders + customer (+ AQE reuse)


def test_pivot_with_values_is_single_pass(spark):
    # C28: enumerated pivot values compile to conditional aggs in one
    # pass — no second distinct-discovery scan of orders
    plan = plan_of(spark, "pivot_priority_revenue")
    assert plan.count("FileScan") == 1


def test_ngram_decon_eval_set_broadcasts_corpus_never_shuffles(spark):
    # D67: the benchmark-sized eval-gram set must broadcast into the
    # corpus gram stream (bounded at any corpus scale). The hit-table
    # re-join onto the doc spine deliberately carries NO hint —
    # contamination volume is data-dependent, so that strategy is
    # AQE's call (broadcast when the measured hit table is small,
    # shuffle join when a pathological corpus makes it large)
    plan = plan_of(spark, "ngram_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan  # grams are codegen'd transform/md5


def test_pq_estep_is_rowlocal_and_topk_limit_first(spark):
    # D68: both PQ E-steps must be shuffle-free row-local folds over a
    # broadcast codebook (no vec×k fan-out join), the ADC/rescore top-Ks
    # plan limit-first, and nothing goes cartesian or through Python
    plan = plan_of(spark, "ann_topk_pq")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # packed codebook / query rows
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "pythonUDF" not in plan


def test_pq_hoists_hold_in_plan(spark):
    # r12 D2 locks: the vector norm must sit in ARGUMENT position
    # (array_repeat under zip_with — the transform-lambda form
    # recomputes the 64-mult fold per element), and the M-step must be
    # the fused (m, code) hash agg — the exploded form's per-dim
    # collect_list(struct(d, mean)) regroup must not reappear
    plan = plan_of(spark, "ann_topk_pq")
    assert "array_repeat" in plan
    assert "collect_list(struct(d" not in plan


def test_multiquery_ivf_windows_partition_per_query(spark):
    # D69: both rank windows must carry the per-query partition key — a
    # global (empty-partition-spec) window would funnel every query's
    # candidates through one reducer; probed cells and the query batch
    # broadcast onto the corpus scan
    import re

    plan = plan_of(spark, "ann_multiquery_ivf")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("qid" in s for s in specs)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_snapshot_diff_aligns_by_hash_agg_not_join(spark):
    # D70 (round-10 shape): BOTH snapshot sides are corpus-scale, so
    # the alignment is a side-tagged union + ONE hash aggregation on
    # the unique doc key (map-side combinable, one exchange) — never a
    # join (the former full-outer SortMergeJoin cost two sort
    # exchanges plus the merge) and never a broadcast assumption; text
    # is hashed in the project BELOW the exchange (md5 riding the
    # shuffle, never document bytes)
    plan = plan_of(spark, "corpus_snapshot_diff")
    assert "Join" not in plan
    assert "HashAggregate" in plan
    assert "Exchange hashpartitioning(doc_id" in plan
    # md5 appears only below the alignment exchange: everything above
    # the doc_id exchange works on 16-byte hashes
    seg = plan.split("Exchange hashpartitioning(doc_id")[0]
    assert "md5" not in seg


def test_lsh_audit_sample_pairs_are_broadcast_not_cartesian(spark):
    # D71: the all-pairs stage runs over a bounded broadcast sample —
    # BroadcastNestedLoopJoin, never a partitioned CartesianProduct
    plan = plan_of(spark, "lsh_recall_audit")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_refresh_rowlocal_no_corpus_join(spark):
    # D72: both E-steps must be row-local folds over broadcast centroid
    # rows (the chained pass-through means no corpus-sized vec_id
    # re-join exists anywhere), the per-cell joins broadcast, and
    # nothing goes cartesian or through Python. Since r13 the corpus
    # chain runs inside the seeds/cent2/transition checkpoint jobs, so
    # the E-step BNLJ shape is asserted on the transition frame's OWN
    # plan (pre-checkpoint), and the closed plan must only read the
    # checkpointed k/k²-row frames.
    from pyspark.sql import functions as F

    from uforwarder_spark.operators.similarity import (
        K_CLUSTERS,
        _emb,
        _kmeans_assign,
        _kmeans_mstep,
    )
    from pyspark.sql import Window

    e = _emb(spark, SF_SMALL)
    w = Window.orderBy("vec_id")
    seeds = e.orderBy("vec_id").limit(K_CLUSTERS).select(
        (F.row_number().over(w) - 1).cast("int").alias("cluster"),
        F.col("v").alias("c"),
    )
    a1 = _kmeans_assign(e, seeds)
    t = _kmeans_assign(
        a1.select("vec_id", "v", F.col("cluster").alias("old_cell")),
        _kmeans_mstep(a1),
    )
    chain = t._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in chain  # packed centroid rows
    assert "SortMergeJoin" not in chain
    assert "CartesianProduct" not in chain
    assert "pythonUDF" not in chain
    plan = plan_of(spark, "ivf_index_refresh")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan


def test_exact_substring_hash_agg_partial_and_doc_windows(spark):
    # D73: the only corpus-scale shuffle groups 24-byte (hash, doc, pos)
    # rows — it must partial-aggregate map-side; the island windows run
    # per doc (a global window would funnel every position through one
    # reducer); tokenizing/hashing stays JVM-side. Window partitioning
    # is asserted structurally from the plan tree (window_partition_keys).
    plan = plan_of(spark, "exact_substring_dedup")
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    specs = window_partition_keys(spark, "exact_substring_dedup")
    assert specs and all(keys for keys in specs), f"global window: {specs}"
    assert any("doc_id" in keys for keys in specs)  # islands keyed per doc


def test_incr_substring_no_cartesian_no_python(spark):
    # D74: the asymmetric probe must never cartesian; hashing stays
    # JVM-side; island windows partition per doc (checked via D73's
    # shared kernel test)
    plan = plan_of(spark, "incr_substring_dedup")
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan


def test_quality_classifier_is_shuffle_free_map(spark):
    # D75: the classifier scan is a pure per-row fold — any exchange
    # means the embarrassingly-parallel scoring stopped being one;
    # tokens never explode and never reach Python
    plan = plan_of(spark, "quality_classifier_score")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Generate" not in plan  # no explode
    assert "pythonUDF" not in plan


def test_knn_graph_bands_shuffle_ids_only_window_per_src(spark):
    # D76: the band self-join must consume (vec_id, band, bv) rows only
    # (vectors are fetched AFTER the distinct id-pair stage via hash
    # joins); the rank window must partition per src — a global window
    # would funnel every edge through one reducer (same plan-format
    # rationale as the D73 test above)
    plan = plan_of(spark, "knn_graph_lsh")
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    assert "row_number" in plan
    specs = window_partition_keys(spark, "knn_graph_lsh")
    assert specs and all(keys for keys in specs), f"global window: {specs}"
    assert any("src" in keys for keys in specs)  # rank keyed per src


def test_span_removal_is_rowlocal_after_detection(spark):
    # D78: detection shares D73's plan; the cut itself must be a
    # row-local filter-with-index (ranges join back doc-keyed, full
    # documents never re-shuffle, nothing through Python)
    plan = plan_of(spark, "substring_span_removal")
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()


def test_decon_span_removal_broadcast_gate_rowlocal_cut(spark):
    # D80: the benchmark-sized eval-gram set broadcasts into the corpus
    # gram stream; only survivors reach the per-doc island windows
    # (keyed per doc); the cut is a row-local filter-with-index
    plan = plan_of(spark, "decon_span_removal")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    specs = window_partition_keys(spark, "decon_span_removal")
    assert specs and all(keys for keys in specs), f"global window: {specs}"
    assert any("doc_id" in keys for keys in specs)


def test_pagerank_iterations_shuffle_ids_only(spark):
    # D82: each power iteration must be a hash join on the edge key plus
    # an integer partial agg — nothing through Python, no cartesian
    # beyond the 1-row node-count broadcast, and the global top-50 must
    # plan limit-first (TakeOrderedAndProject), never a full sort or a
    # global window over all n nodes
    plan = plan_of(spark, "knn_graph_pagerank")
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    assert "TakeOrderedAndProject" in plan


def test_contrastive_triplets_windows_per_anchor(spark):
    # D89: composes D76's candidate chain, so the same rules hold —
    # no cartesian, nothing through Python, and BOTH rank windows
    # (positive pick + hard-negative pick) keyed per anchor, never
    # global
    plan = plan_of(spark, "contrastive_triplets")
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    assert plan.count("row_number") >= 2
    specs = window_partition_keys(spark, "contrastive_triplets")
    assert specs and all(keys for keys in specs), f"global window: {specs}"
    assert any("src" in keys for keys in specs)


def test_incr_triplet_windows_per_anchor(spark):
    # D90: the asymmetric D77 chain + D89's margin rule — no cartesian,
    # nothing through Python, both rank windows keyed per anchor
    plan = plan_of(spark, "incr_triplet_mining")
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    assert plan.count("row_number") >= 2
    specs = window_partition_keys(spark, "incr_triplet_mining")
    assert specs and all(keys for keys in specs), f"global window: {specs}"
    assert any("src" in keys for keys in specs)


def test_bpe_train_corpus_work_is_one_scan(spark):
    # D97: the ONLY corpus-sized work is the word-frequency partial agg
    # (one scan); all K training steps run on the vocab frame via
    # localCheckpoints — no cartesian beyond the 1-row winner
    # broadcast, nothing through Python, and the winner pick plans
    # limit-first (TakeOrderedAndProject), never a global sort.
    plan = plan_of(spark, "bpe_train_merges")
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan


def test_bpe_apply_joins_vocab_not_cartesian(spark):
    # D98: the apply side is one corpus token explode joined to the
    # vocab-sized segmentation table by the word key — no cartesian, no
    # Python, and the per-source rollup partial-aggregates
    plan = plan_of(spark, "bpe_apply_fertility")
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()


def test_q12_filter_pushes_and_single_fact_shuffle(spark):
    # C29: the year filter reaches the lineitem scan; the only
    # fact-sized join is lineitem⋈orders on orderkey (SMJ at real SF,
    # AQE may broadcast at test SF); the 2-row conditional agg is
    # partial
    plan = plan_of(spark, "tpch_q12_shipmode_priority")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_q21_is_one_linear_fact_pipeline(spark):
    # C30: the EXISTS / NOT-EXISTS pair of Q21 must NOT appear as fact
    # self-joins — the derivation is per-order counts over the
    # (orderkey, suppkey) residue, so each of the 4 tables is scanned
    # exactly once and the multi-supplier / sole-late tests are ONE
    # per-order window, never a self-referencing branch that would make
    # Spark build the lineitem subtree twice
    plan = plan_of(spark, "tpch_q21_waiting_suppliers")
    assert plan.count("Scan parquet") == 4, plan.count("Scan parquet")
    assert "CartesianProduct" not in plan
    specs = window_partition_keys(spark, "tpch_q21_waiting_suppliers")
    assert specs and all("l_orderkey" in keys for keys in specs), specs


def test_q16_anti_join_broadcasts_and_no_fact_smj(spark):
    # C31: the complaint list is a broadcast LEFT ANTI join and part is
    # a broadcast dim — the only fact-sized exchange is the DISTINCT on
    # the (partkey, suppkey) pair, never a shuffle JOIN
    plan = plan_of(spark, "tpch_q16_supplier_part_types")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q11_dims_broadcast_and_scalar_attaches_as_1row_bnlj(spark):
    # C32: supplier/nation broadcast (fact never shuffles for a join);
    # the global total attaches as the house-standard broadcast 1-row
    # cross join — the ONLY nested-loop join allowed in the plan
    plan = plan_of(spark, "tpch_q11_important_balances")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert plan.count("HashAggregate") >= 2


def test_wordpiece_train_corpus_work_is_one_scan(spark):
    # D101: same plan discipline as D97 — corpus-sized work is the one
    # word-frequency partial agg; the per-step symbol-count aggs and
    # argmax joins run on the checkpoint-bounded vocab frame; no
    # cartesian beyond the 1-row winner broadcast, nothing in Python
    plan = plan_of(spark, "wordpiece_train_merges")
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan


def test_wordpiece_apply_joins_vocab_not_cartesian(spark):
    # D102: one corpus token explode joined to the vocab-sized
    # segmentation table by the word key; per-source rollup partial
    plan = plan_of(spark, "wordpiece_apply_fertility")
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()


def test_sentence_span_dedup_rowlocal_cut_no_python(spark):
    # D105: the C4 keep-one rule must keep D73/D78's scale shape — the
    # only corpus-wide exchanges are the window-hash group-by (with its
    # argmin struct payload) and the survivors-only join back; the
    # island merge windows per doc_id; the cut is a row-local
    # filter-with-index; nothing through Python, no cartesian
    plan = plan_of(spark, "sentence_span_dedup")
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()
    # the packed-bigint argmin keeps the cans group-by hash-aggregable:
    # a struct-min would plan as SortAggregate — a per-partition sort
    # of the corpus-wide window stream (measured 1.21x at 10x)
    assert "SortAggregate" not in plan
    specs = window_partition_keys(spark, "sentence_span_dedup")
    assert specs and all(keys for keys in specs), f"global window: {specs}"
    assert any("doc_id" in keys for keys in specs)


def test_incr_sentence_span_gate_is_asymmetric_semi_join(spark):
    # D106: the existing corpus reaches the incoming side as a DISTINCT
    # hash set probed by a semi join (never corpus x corpus); island
    # merge windows per doc_id; the cut is row-local; nothing through
    # Python
    plan = plan_of(spark, "incr_sentence_span_dedup")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    specs = window_partition_keys(spark, "incr_sentence_span_dedup")
    assert specs and all(keys for keys in specs), f"global window: {specs}"
    assert any("doc_id" in keys for keys in specs)


def test_line_dedup_shares_the_sentence_plan_shape(spark):
    # D107: same scale shape as D105 at span 1 — one count+argmin hash
    # group-by, survivors-only join, per-doc island windows, row-local
    # cut, nothing through Python, no cartesian
    plan = plan_of(spark, "line_dedup")
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()
    assert "SortAggregate" not in plan  # packed argmin, not struct-min
    specs = window_partition_keys(spark, "line_dedup")
    assert specs and all(keys for keys in specs), f"global window: {specs}"
    assert any("doc_id" in keys for keys in specs)


def test_contamination_fraction_broadcast_gate_one_agg(spark):
    # D108: benchmark-sized eval grams broadcast into the corpus gram
    # stream (D80's detection head, shared); survivors reach one per-doc
    # partial agg; no rewrite pass, no cartesian, nothing through Python
    plan = plan_of(spark, "contamination_fraction")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    specs = window_partition_keys(spark, "contamination_fraction")
    assert specs and all(keys for keys in specs), f"global window: {specs}"
    assert any("doc_id" in keys for keys in specs)


def test_paragraph_span_dedup_shares_the_sentence_plan_shape(spark):
    # D109: the MassiveText paragraph rule is D107's plan at a
    # paragraph declared unit — one count+argmin hash group-by,
    # survivors-only join, per-doc island windows, row-local cut,
    # nothing through Python, no cartesian (reuses the D105/D107
    # assertions verbatim per VERDICT r11 #6)
    plan = plan_of(spark, "paragraph_span_dedup")
    assert "CartesianProduct" not in plan
    assert "pythonUDF" not in plan
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()
    assert "SortAggregate" not in plan  # packed argmin, not struct-min
    specs = window_partition_keys(spark, "paragraph_span_dedup")
    assert specs and all(keys for keys in specs), f"global window: {specs}"
    assert any("doc_id" in keys for keys in specs)


def test_token_bucket_summary_rollup_hash_aggregates(spark):
    # A35 (r12): final_tokens comes from the kernel's is_last marker
    # through a fixed-width conditional max — the former
    # max_by(tokens_after, struct(ts, msg_offset)) buffer is not
    # UnsafeRow-mutable and silently planned Sort + SortAggregate over
    # the message-scale verdict frame (caught by the r12 all-keys plan
    # sweep; plans/r12/token_bucket_summary_{before,after}.txt)
    plan = plan_of(spark, "token_bucket_summary")
    assert "SortAggregate" not in plan
    assert plan.count("HashAggregate") >= 2


def test_pagerank_lineage_checkpoint_bounded(spark):
    # D82 (r13): the edge and node frames localCheckpoint, so the
    # unrolled PR_ITERS power-iteration lineage stays bounded — the
    # pre-r13 plan embedded the whole D76 band-join subtree at every
    # edges/nodes reference (297 Exchange / 157 scans in the r12 sweep;
    # executors re-ran the band join per reference). Bounded = the plan
    # reads its base frames from checkpointed RDDs and the exchange
    # count is per-iteration work only, not per-reference plan copies.
    plan = plan_of(spark, "knn_graph_pagerank")
    assert "Scan ExistingRDD" in plan  # checkpointed edges/nodes
    assert plan.count("Exchange") <= 40  # was 297+ unrolled
    assert "TakeOrderedAndProject" in plan


def test_ivf_refresh_checkpoint_bounded(spark):
    # D72 (r13): seeds/cent2/transition are k- to k²-row frames each
    # referenced by 2+ branches; localCheckpoint keeps every reference
    # from re-running the corpus chain (54 executor-run s for 13.6 CPU
    # s before; plans/r13/ivf_index_refresh_{before,after}.txt)
    plan = plan_of(spark, "ivf_index_refresh")
    assert "Scan ExistingRDD" in plan
    assert plan.count("Exchange") <= 16  # was 54 in the unrolled plan


def test_bm25_plan_single_tokenize(spark):
    # D57 (r13): bm25_doc_stats computes dl + per-term tf in ONE
    # tokenize — the token array is built once in the lower projection
    # (CollapseProject leaves multiply-referenced non-cheap expressions
    # uncollapsed), so the regexp split appears exactly once in the
    # stats plan, and the closed bm25_topk plan reads the checkpointed
    # stats proxy with no posting explode / corpus-keyed shuffle.
    from pyspark.sql import functions as F

    from uforwarder_spark.functions.text import bm25_doc_stats
    from uforwarder_spark.model import load_parallel

    docs = load_parallel(spark, SF_SMALL, "documents").select("doc_id", "text")
    stats_plan = bm25_doc_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert stats_plan.count("split(lower(") == 1, stats_plan
    topk_plan = plan_of(spark, "bm25_topk")
    assert "Scan ExistingRDD" in topk_plan  # the checkpointed stats proxy
    assert "Generate" not in topk_plan  # no posting explode downstream
    assert "TakeOrderedAndProject" in topk_plan


@pytest.mark.parametrize(
    ("name", "max_parquet_scans"),
    [
        ("doremi_weights", 0),          # was 24 corpus scans / 62 Exchange
        ("token_budget_allocation", 0),  # was 16 / 48
        ("kmv_sketch_overlap", 0),       # was 14 / 42
        ("bigram_perplexity", 4),        # was 16 / 36 (scoring pass remains)
        ("unigram_perplexity", 0),       # was 12 / 30
        ("pmi_collocations", 0),         # was 10 / 24
        ("importance_sampling_weights", 0),  # was 8 / 22
        ("source_lang_kl", 0),               # was 8 / 22
    ],
)
def test_fanout_frames_checkpoint_bounded(spark, name, max_parquet_scans):
    # r13 §J: control-plane / vocab-sized frames referenced 2-4 times by
    # their consumers localCheckpoint at the fan-out point (the D104
    # rule), so the closed plan replays the materialized frame instead
    # of re-embedding the corpus tokenize/hash/agg chain per reference.
    # The corpus passes run ONCE inside the eager checkpoint jobs;
    # bench/probe timing includes construction, so nothing leaves the
    # timed region. Before/after dumps: plans/r13/<name>_{before,after}.
    plan = plan_of(spark, name)
    assert "Scan ExistingRDD" in plan  # the checkpointed fan-out frame
    assert plan.count("Scan parquet") <= max_parquet_scans, plan
