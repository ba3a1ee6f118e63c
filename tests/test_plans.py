"""Physical-plan regression tests: the scale properties we rely on —
broadcast vs sort-merge choice, filter pushdown, column pruning,
shuffle budgets, JVM-side execution — must survive refactors, not just
row-count checks. Helpers live in outreach_etl_tool_spark.plans."""

from __future__ import annotations

import pytest

from outreach_etl_tool_spark.plans import (
    audit,
    physical_plan,
    pushed_filters,
    read_schemas,
)
from outreach_etl_tool_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def df_of(spark, name: str):
    # plan pins audit the COLD plan: a leftover persisted fragment from
    # an earlier query execution (e.g. minhash signatures) would be
    # substituted as InMemoryRelation and change the audited shuffle
    # count with test order (seen: dedup_minhash 7 -> 13 exchanges when
    # test_registry ran first)
    spark.catalog.clearCache()
    return REGISTRY[name].fn(spark, SF)


def test_funnel_broadcasts_dims(spark):
    a = audit("funnel", df_of(spark, "funnel"))
    assert a.broadcast_joins >= 2  # nation and customer stay broadcast
    assert a.sortmerge_joins == 0  # dims must not shuffle the fact


def test_fact_fact_uses_sort_merge(spark):
    a = audit("join_fact_fact", df_of(spark, "join_fact_fact"))
    assert a.sortmerge_joins >= 1


def test_filter_pushdown_reaches_scan(spark):
    pushed = pushed_filters(df_of(spark, "filter_ts_range"))
    assert any(
        "GreaterThan" in p or "LessThan" in p or "o_orderdate" in p for p in pushed
    ), pushed


def test_q6_band_predicates_push_to_scan(spark):
    """TPC-H Q6's reason to exist: the discount/quantity band must
    reach the parquet scan (row-group pruning — at 100 TB the
    difference between scanning ~6 % and 100 % of lineitem). Matched
    on the raw plan string because toString() truncates long
    PushedFilters lists past the regex's closing bracket."""
    plan = physical_plan(df_of(spark, "sql_q6_forecast_revenue"))
    assert "PushedFilters: [IsNotNull(l_discount)" in plan, plan[-1500:]
    assert "GreaterThanOrEqual(l_discount,0.04)" in plan, plan[-1500:]
    # and the scan is pruned to the four referenced columns
    schemas = read_schemas(df_of(spark, "sql_q6_forecast_revenue"))
    lineitem_scan = next(s for s in schemas if "l_discount" in s)
    assert "l_orderkey" not in lineitem_scan
    assert "l_returnflag" not in lineitem_scan


def test_dpp_join_injects_dynamic_pruning(spark):
    """sink_dpp_join's reason to exist: the day window is only
    knowable by running the dim subquery, so the partitioned fact scan
    must carry a dynamicpruning expression in its PartitionFilters —
    without it the scan reads every day's directory and filters
    post-join."""
    plan = physical_plan(df_of(spark, "sink_dpp_join"))
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_bucketed_join_has_no_join_exchange(spark):
    """sink_bucketed_join's reason to exist: with broadcast off (the
    100 TB regime — neither fact fits), the fact⋈fact join must read
    the bucketed layout co-located: SortMergeJoin with ZERO exchanges
    beneath it (the only exchanges in the whole plan are the
    post-join rollup + result sort). Also pins that the scans carry
    bucket metadata — a plain parquet read of the same files would
    silently reintroduce the shuffle."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(df_of(spark, "sink_bucketed_join"))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "SortMergeJoin" in plan, plan[:1500]
    assert "SelectedBucketsCount" in plan, plan[:1500]
    assert "hashpartitioning(l_orderkey" not in plan, plan[:2000]
    assert "hashpartitioning(o_orderkey" not in plan, plan[:2000]


def test_column_pruning_funnel(spark):
    schemas = read_schemas(df_of(spark, "funnel"))
    # the orders scan must not read the full table width
    orders_scan = next(s for s in schemas if "o_custkey" in s)
    assert "o_orderdate" not in orders_scan
    assert "o_orderpriority" not in orders_scan


def test_sink_partitioned_read_prunes(spark):
    """The day predicate over the partitioned sink must become a
    PartitionFilter (directory-level pruning), and the executed scan
    must read exactly one file — one day's directory out of ~30.
    (inputFiles() lists the whole FileIndex regardless of pruning, so
    the proof is the scan's runtime numFiles metric.)"""
    import re

    df = df_of(spark, "sink_partitioned_pruned")
    plan = physical_plan(df)
    assert re.search(r"PartitionFilters: \[[^\]]*event_day", plan), plan

    df.collect()
    executed = df._jdf.queryExecution().executedPlan()
    leaves = executed.collectLeaves()
    num_files = None
    for i in range(leaves.length()):
        metrics = leaves.apply(i).metrics()
        if metrics.contains("numFiles"):
            num_files = metrics.apply("numFiles").value()
    assert num_files == 1, f"scan read {num_files} files, expected 1"


def test_disjunctive_predicate_pushdown_q19(spark):
    """Q19's OR-of-ANDs must still push its per-column disjuncts to the
    lineitem scan (Or(And(GreaterThanOrEqual(l_quantity,...)))) and
    prune the scan to the four referenced columns — the difference
    between reading 4 and 11 columns of the 100 TB fact table."""
    df = df_of(spark, "sql_q19_bracket_revenue")
    pushed = " ".join(pushed_filters(df))
    assert "Or(" in pushed and "l_quantity" in pushed, pushed
    li_scan = next(s for s in read_schemas(df) if "l_quantity" in s)
    assert "l_shipdate" not in li_scan and "l_tax" not in li_scan, li_scan


def test_top_k_is_take_ordered(spark):
    a = audit("top_k_orders", df_of(spark, "top_k_orders"))
    assert a.top_k  # top-k never global-sorts


def test_text_stats_stays_jvm_side(spark):
    a = audit("text_stats", df_of(spark, "text_stats"))
    assert a.jvm_only, a.python_nodes  # pure expression pipeline


@pytest.mark.slow
def test_no_row_at_a_time_python_anywhere(spark):
    """BatchEvalPython (per-row pickling) is banned across the whole
    registry — Python escapes must be Arrow-vectorized."""
    offenders = []
    for name, spec in REGISTRY.items():
        a = audit(name, spec.fn(spark, SF))
        if a.row_at_a_time_python:
            offenders.append(name)
    assert not offenders, offenders


def test_semi_anti_join_shapes(spark):
    for name, kind in (("join_semi", "LeftSemi"), ("join_anti", "LeftAnti")):
        plan = physical_plan(df_of(spark, name))
        assert kind in plan, f"{name}: {plan[:500]}"


@pytest.mark.parametrize("name", ["pricing_summary", "agg_engagement_counters"])
def test_aggs_have_partial_phase(spark, name):
    # map-side partial aggregation must precede the exchange
    plan = physical_plan(df_of(spark, name))
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower(), plan[:800]


SHUFFLE_BUDGETS = {
    # query -> max blocking exchanges tolerated at any scale. These are
    # design budgets: funnel = 3 (count-distinct's two-phase expand:
    # exchange on group+custkey then on group, + final sort over the
    # ~75 aggregated rows — joins stay broadcast); pricing_summary = 2
    # (scan→partial→exchange→final, + sort of the 4 result rows);
    # single-pass aggs/windows = 1 or 2.
    # A regression that adds an exchange fails here before it costs
    # hours on a cluster.
    "funnel": 3,
    "pricing_summary": 2,
    "agg_engagement_counters": 2,
    "evt_tumbling": 1,
    # round-8 noise-vs-regression pinning (the r7 +8% drift hit these
    # sub-second queries): a plan regression now fails here instead of
    # hiding inside bench noise
    "sim_topk": 0,                    # TakeOrdered over the scan, no exchange
    "join_asof": 1,                   # one keyed exchange shared by the window
    "join_asof_forward": 1,           # same single-shuffle design
    # user window (rollup reuses its partitioning) + path rollup;
    # top-k is TakeOrdered, no sort exchange
    "evt_top_paths": 2,
    # sha window + source rollup + result sort (gopher flags ride scan)
    "pipeline_dataset_card": 3,
    # user session window + span rollup + day sweep window + result
    # sort (sessionize's two windows share one exchange)
    "evt_peak_concurrency": 4,
    # post-checkpoint: basket total + item counts + pair rollup +
    # metric joins; top-k is TakeOrdered
    "basket_pair_lift": 5,
    # scd2 build window + interval join + result sort
    "evt_pointintime_join": 2,
    "set_intersect_all": 1,           # per-side counts share one exchange
    # supplier rollup + nation window + nation rollup (+ sort reuses)
    "supplier_pareto_by_nation": 3,
    # (user, day) distinct + user window + streak rollup + histogram
    "evt_active_streaks": 4,
    # (label, cohort, pos) rollup + pos self-join + label rollup + sort
    "emb_drift_monitor": 4,
    # replica rollup (map-side combined) + point agg + CI agg
    "agg_bootstrap_ci": 3,
    # first-view rollup + purchase probe join + cohort rollup + sort
    "evt_windowed_conversion": 4,
    # cohort map + join + distinct-count expand + cell rollup + sort
    "orders_cohort_ltv": 4,
    # post-checkpoint: 1-row percentile agg (broadcast back) + cube
    # rollup + result sort — no global ntile window
    "orders_rfm_segments": 3,
    "join_asof_nearest": 1,           # both fills over one sorted partition
    "win_latest_per_key": 1,
    "top_k_orders": 0,  # TakeOrderedAndProject needs no full shuffle
    "text_stats": 1,
    "dedup_exact": 2,
    # per-doc stats are narrow by design: one MapInPandas, no exchange
    # (the explode/groupBy formulation costs 4 — see queries/pipeline.py)
    "quality_signals": 0,
    "split_train_holdout": 0,  # md5 gate is pure projection
    "pack_sequences": 1,  # window partitioned by source: one exchange
    "domain_mix_sample": 2,
    "vocab_topk": 2,  # count-distinct expand; final top-k is TakeOrdered
    "sql_q3_shipping": 1,  # dims broadcast; one agg exchange
    "sql_q10_returns": 1,
    "sql_grouping_sets": 1,  # one Expand pass, not one scan per level
    "sql_lateral_topn": 1,  # decorrelated: WindowGroupLimit + broadcast
    "stratified_sample": 1,
    "decontaminate": 2,  # eval grams broadcast; distinct + final agg
    # distributed block NL join: index→block, probes→block, window merge
    "sim_knn_join": 3,
    # tf(1) + dfreq(1) + N(1) + window(1) + broadcast-side build; the
    # corpus is never reshuffled by token (dfreq broadcasts back)
    "tfidf_keywords": 5,
    "dedup_incremental": 2,  # hash anti-join + keep-first window
    "agg_skew_distinct": 3,  # bucket partial + per-key sum phases
    "join_skew_salted": 1,   # dim agg; the salted join itself broadcasts
    "evt_scd2_history": 1,   # both windows share one (key, ts) exchange
    "quality_percentile_trim": 1,  # 2-value bounds agg; scan unshuffled
    "decontaminate_bloom": 2,  # bloom probe is narrow; verify + agg
    # bucket pipeline + pair dedup + melt-join verify (sh_only appears
    # ONCE in the plan); the r2 regression (12 exchanges via a
    # redundant distinct + array-column persist) and the r3 two-join
    # verify shape (10 — corpus scanned once per pair side) both fail
    # here if they come back
    "dedup_minhash": 7,
    # round-6 SQL surface: dims broadcast (only nation is HINTED — the
    # scaling dims are AQE's call), agg + result-sort exchanges only.
    # q7's budget leaves one slot for the fact-fact exchange AQE adds
    # once orders outgrows the broadcast threshold.
    "sql_q7_nation_volume": 3,
    "sql_q14_promo_share": 2,
    "sql_q19_bracket_revenue": 2,
    "pii_redact": 2,  # regex scrub is pure projection; rollup + sort
    "pii_extents": 2,   # per-doc token window + result sort only
    # trigram-count buildup + scoring rollup + argmax window + output
    # join/sort; +1 slot for the weight broadcast AQE may demote
    "lang_id_trained": 5,
    # totals agg + (lang,shard) window + domain rollup + result sort
    "token_budget_mix": 5,
    # span window + rebuild rollup + passthrough join/sort; the gap
    # windows reuse the doc_id partitioning (sort-only, no exchange)
    "pii_excise": 3,
    # count groupBy + prev-window + per-doc rollup; the probs join
    # broadcasts back (vocab² rows), never reshuffling the corpus
    "lm_quality_score": 3,
    # round-6 continuation: TPC-H decorrelation batch + new operators.
    # Budgets = observed-at-toy-sf + one slot for each broadcast AQE
    # will demote to an exchange at scale.
    "sql_q13_cust_distribution": 5,   # join + c_count regroup + sort
    "sql_q17_small_qty_revenue": 5,   # per-part agg + joinback + rollup
    "sql_q18_large_orders": 5,        # per-order agg + 2 joins + sort
    "sql_q21_late_supplier": 7,       # two keyed aggs + joinback + rollup
    "sql_q22_dormant_customers": 6,   # 2 scalar aggs + anti + rollup
    "win_cume_distinct": 1,           # one exchange on user_id
    "agg_histogram": 2,               # bucket groupBy + sort of 20 rows
    "agg_stats_corr": 2,              # one moment-sum pass + 3-row sort
    "join_runtime_filter": 6,         # bloom build + SMJ both sides + agg
    "fuzzy_join_editdist": 2,         # blocked self-join shuffles at scale
    "merge_cdc_apply": 3,             # change compaction + full-outer SMJ
    # graph family: budgets cover the post-checkpoint segment (edge
    # build + orientation live behind localCheckpoint boundaries, same
    # discipline as dedup_cluster's audited plan)
    "graph_triangles": 6,             # wedge join + close + corner rollup
    "graph_pagerank": 2,              # final projection over checkpointed ranks
    "mv_incremental_refresh": 4,      # delta agg + stored∪delta merge + sort
    # TPC-H completion batch (queries/tpch.py). Same convention:
    # observed-at-toy-sf + one slot per broadcast AQE will demote to an
    # exchange once the scaling dims (supplier/customer/part) outgrow
    # the threshold — hinted broadcasts are only nation/region/1-row
    # scalar frames.
    "sql_q2_min_cost_supplier": 8,    # supply agg + per-part min + dims
    "sql_q4_priority_lateness": 4,    # semi join SMJ at scale + rollup
    "sql_q6_forecast_revenue": 2,     # partial/final agg + 7-row sort
    "sql_q8_market_share": 8,         # fact-fact + scaling dims at scale
    "sql_q9_product_profit": 8,       # fact-fact + part/supplier at scale
    "sql_q11_important_parts": 4,     # partkey agg + 1-row totals + sort
    "sql_q12_shiplag_priority": 4,    # fact-fact SMJ at scale + 3-row agg
    "sql_q15_top_supplier": 7,        # revenue agg + scalar max + joinback
    "sql_q16_supplier_diversity": 6,  # distinct expand + part join at scale
    "sql_q20_promo_suppliers": 11,    # two partkey aggs + joinback + semi
    # bucketed layout: the join contributes ZERO exchanges at any
    # scale (that is the operator's point — see the dedicated pin
    # above); budget covers only rollup + result sort
    "sink_bucketed_join": 2,
    "boilerplate_commonality": 4,     # posting counts + joinback + rollup
    "join_null_safe": 4,              # two pre-aggs + null-safe join + sort
    "sink_dpp_join": 4,               # dim distinct + rollup; scan pruned
    "ewma_smooth": 1,                 # one exchange on user_id
    "text_chunk_windows": 1,          # zero-shuffle fan-out + result sort
    "dedup_substring_spans": 3,       # 2-phase distinct agg + result sort
    # exact variable-length span family (round 7): gram agg/window +
    # doc-islands window + extent rollup + result sort; excise adds
    # the complement-gap pass + per-doc rebuild joins (single-pass gap
    # emission — the union-with-groupBy shape costs 11, fails here).
    # Round 8: +1 for the winnowing screen's fingerprint window (one
    # ~6%-density exchange on the fingerprint hash; the doc-id
    # distinct + semi-join broadcast at this scale); the screen keeps
    # the 32×-corpus-bytes stride-1 exchange off unflagged docs
    "dedup_span_exact_extents": 7,
    # both row_number windows + the final agg share one (user, bucket)
    # partitioning; second slot is the result range sort
    "evt_ohlc_resample": 2,
    # post-checkpoint segment (graph-family discipline): candidate
    # self-join both sides + distinct + two verify joins + result sort
    "dedup_setsim_join": 7,
    "dedup_span_exact_excise": 9,
    "quality_mad_outliers": 3,        # mad agg + final agg + result sort
    "udtf_lateral_tokens": 1,         # lateral fan-out + result sort
    # stats agg + result sort; pair/canon joins broadcast at gate
    # scale, CC fast path collapses the loop (distributed path adds
    # its bounded per-round exchanges only past the edge threshold)
    "pipeline_entity_resolution": 4,
    # dedup window + pack window + rollup + sort; fan-out rides the scan
    "pipeline_pretrain_prep": 4,
    "scalar_try_ansi": 2,             # one agg exchange + result sort
    # GROUPED_AGG ships whole groups (no partial agg) + result sort
    "udf_grouped_agg_wavg": 2,
    "udf_map_arrow": 1,               # arrow pass rides the scan + sort
    # hash agg + islands window + result sort; dup set broadcast-joined
    "dedup_span_runs": 4,
    # + interval-union window (reuses doc_id partitioning), doc join,
    # source rollup
    "span_dup_stats": 7,
    # hash rank window + doc islands ×2 + gap/segment joins + rebuild
    # agg + sort; all per-doc after the one hash shuffle, no Python
    "dedup_span_excise": 7,
    # round-8 corpus-analytics family (post-checkpoint segments; the
    # size joins are HINTED broadcasts, so they never demote — pinned
    # at the observed count, no slack)
    "source_overlap_jaccard": 5,      # sizes agg + srcsets agg + inter agg + 2 sorts
    "source_token_divergence": 3,     # srcsets agg + pair rollup + result sort
    "novelty_score": 3,               # gram window + doc rollup + result sort
    "corpus_shuffle_shards": 2,       # shard-key window exchange + result sort
    # CC fast path collapses the component loop at pin scale; one slot
    # for the keeper projection + result shuffle past the edge threshold
    "semdedup_prune": 2,
    # scale tier, same post-checkpoint discipline: cell self-join both
    # sides live behind the qn checkpoint, CC fast path at pin scale
    "semdedup_ivf": 2,
    # cross-set bucket join (post-cap-checkpoint) + candidate distinct
    # + closest-eval window + result sort; qn joins broadcast at pin
    # scale — one slot for their demotion
    "decontaminate_semantic": 4,
    # scan repartition + bucket counts (map-side combined to <=256
    # rows) + 1-row totals + per-doc rollup + result sort; the score
    # table is a HINTED broadcast and never demotes — no slack
    "dsir_importance_sample": 5,
    # post-checkpoint segment (graph-family discipline): sym union +
    # two core membership SMJs + within-degree rollup + final agg —
    # core is ~the node set here so AQE rightly picks SMJ, no
    # broadcast slack needed
    "graph_kcore_check": 7,
    # three-tier composition (post-checkpoint segments of each tier):
    # extent rollup + gram distinct/overlap rollup + semantic argmax
    # window + doc-keyed report joins + result sort; eval grams and
    # the tier outputs broadcast at pin scale — one slot for demotion
    "decontamination_report": 9,
    # returned SCORING plan only (training iterations collect their
    # 256-row gradients eagerly at build time, persisted x feeds
    # them): final per-doc score rollup + docs left join + result
    # sort; one slot for the doc-keyed join demoting at scale
    "quality_classifier_scores": 4,
    # post-checkpoint (qn feeds both cell-join sides): closest-eval
    # window + result sort; one slot for the cell join demoting from
    # its pin-scale broadcast
    "decontaminate_semantic_ivf": 3,
    # winnow kernel rides the scan (zero-shuffle fingerprints); the
    # three exchanges are the shared-hash window + per-doc rollup +
    # result sort
    "winnow_fingerprints": 3,
    # decontamination family (post-checkpoint segments): gram window +
    # two rollups + result sort; excise adds the rebuild gap pass
    "decontaminate_extents": 4,
    "decontaminate_excise": 5,
    "gopher_quality_filter": 1,       # pure projection + result sort
    # repetition rules are per-doc HOF array code: projection + sort
    "gopher_topgram_frac": 1,
    "gopher_dupgram_coverage": 1,
    # edge list + degrees + orient + wedge/close + side rollup + final
    # degree joins + result sort (triangle machinery reused)
    "graph_edge_jaccard": 11,
    "doc_fingerprint_poly": 1,        # HOF fold + result sort
    # broadcast-nested-loop over the tiny query set: scan + result sort
    "sim_range_search": 1,
    # user window + pair rollup + prev-type window + result sort
    "evt_markov_transitions": 4,
    # post-checkpoint: df agg + prefix window + probe join/verify
    "dedup_containment_join": 3,
    # user carry-forward window + campaign rollup + result sort
    "evt_attribution_last_touch": 3,
    # day rollup + single-partition day-grain window/sort (calendar-
    # bounded by design — see the query docstring)
    "dq_volume_anomaly": 2,
    "tokenizer_fertility": 2,         # source x lang rollup + sort
    # lm_quality_score derivation (count groupBy + prev window + doc
    # rollup) + per-source ntile + bucket rollup
    "ccnet_quality_buckets": 5,
    # lang-count rollup + single-row min + broadcast weight join (gate
    # rides the scan) + final rollup + result sort
    "lang_temperature_sample": 5,
    # token rollup + vocab-frame rank window + scalar aggregate
    "vocab_zipf_slope": 4,
    # certificate: two trainer word-count shuffles + two Arrow encode
    # aggregates + single-row crossjoins
    "tokenizer_encode_check": 3,
    # certificate (post-checkpoint ann result): exact top-k sort +
    # mismatch join + single-row crossjoins
    "sim_ann_ivf_check": 3,
    # certificate (post-checkpoint ranked frame): approx rollup +
    # probe join rollup + result sort
    "agg_approx_percentiles_check": 3,
    # certificate: word-count shuffle feeds driver training; the legs
    # are joins over the tiny local rules frame + crossjoins
    "bpe_train_check": 4,
    # certificate (post-checkpoint pieces/chars): char + word distincts,
    # coverage anti-join, substring BNL semi-join, single-row crossjoins
    "unigram_train_check": 9,
    # certificate: two distinct rollups + approx rollup + sketch
    # rollup/merge + single-row crossjoins
    "agg_approx_distinct_check": 10,
    # classifier scoring rollup + result sort (the lottery itself
    # rides the projection — no extra exchange)
    "quality_pareto_lottery": 2,
    # the report's scale variant (post-checkpoint semantic leg): three
    # tier rollups + doc-keyed LEFT joins + result sort
    "decontamination_report_ivf": 7,
    # certificate tier (post-checkpoint): brute-force universe is a
    # broadcast nested loop, then four single-row aggregates over
    # anti/semi joins of the emitted pairs vs the reference set
    "semdedup_ivf_check": 16,
    "decontaminate_semantic_ivf_check": 10,
    # three-stage composite: ONE dedup window computing both canonical
    # flags (sequential + marginal) + leaky distinct + stage join +
    # source rollup + result sort (round-10: window-join fusion cut
    # the budget 7 -> 6 while ADDING the marginal pre-gate columns)
    "pipeline_curation_funnel": 6,
}


def test_runtime_filter_injects_bloom(spark):
    """join_runtime_filter's reason to exist: the selective orders
    predicate must materialize as an injected bloom filter
    (might_contain / BloomFilterAggregate) on the lineitem side of the
    optimized plan — semi-join reduction before the fact shuffle."""
    df = df_of(spark, "join_runtime_filter")
    optimized = df._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "might_contain" in optimized or "bloomfilter" in optimized, (
        optimized[:1200]
    )


def test_runtime_filter_restores_session_confs(spark):
    from outreach_etl_tool_spark.queries.joins import _rtf_confs

    keys = _rtf_confs(1)
    before = {k: spark.conf.get(k, None) for k in keys}
    df_of(spark, "join_runtime_filter")
    after = {k: spark.conf.get(k, None) for k in keys}
    assert before == after, (before, after)


def test_runtime_filter_bloom_sized_to_build_side():
    """Round-14 ADVICE: the injected bloom's sizing tracks the build
    side instead of a fixed 100k pin — ~10 bits/item (pow2), so fpp
    holds at larger scale factors instead of silently collapsing."""
    from outreach_etl_tool_spark.queries.joins import _rtf_confs

    small = _rtf_confs(10)
    big = _rtf_confs(5_000_000)
    k = "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems"
    b = "spark.sql.optimizer.runtime.bloomFilter.numBits"
    assert int(small[k]) == 4096 and int(small[b]) == 1 << 16
    assert int(big[k]) == 5_000_000
    bits = int(big[b])
    assert bits >= 10 * 5_000_000 and (bits & (bits - 1)) == 0


def test_fuzzy_join_levenshtein_stays_jvm(spark):
    a = audit("fuzzy_join_editdist", df_of(spark, "fuzzy_join_editdist"))
    assert a.jvm_only, a.python_nodes


# Round-14 (VERDICT r13 audit note #4): 161 single-partition
# WindowExec WARNs across a full selfcheck are too many to eyeball, so
# the audited plan set carries an explicit WHITELIST of the known
# BOUNDED unpartitioned windows — a new global window over row-scale
# data fails here instead of hiding in the WARN noise. Each entry is
# (query → count of allowed empty-partition Window nodes), with the
# boundedness argument inline. Windows living outside the final
# DataFrame (model-prep collects, streaming sink internals) are
# runtime-WARN territory, covered by the selfcheck sweep.
UNPARTITIONED_WINDOW_WHITELIST = {
    # 7-day rolling median over the per-DAY rollup: the window input
    # is calendar-bounded (one row per day), never row-scale
    "dq_volume_anomaly": 1,
    # log-log rank over the DISTINCT-TOKEN vocabulary (post-groupBy):
    # vocabulary-bounded, sublinear in corpus size — the documented
    # exception class; at a truly web-scale vocab the rank would move
    # to a two-pass range-partitioned sort
    "vocab_zipf_slope": 1,
}


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGETS))
def test_no_unlisted_unpartitioned_windows(spark, name):
    from outreach_etl_tool_spark.plans import unpartitioned_window_count

    n = unpartitioned_window_count(df_of(spark, name))
    allowed = UNPARTITIONED_WINDOW_WHITELIST.get(name, 0)
    assert n <= allowed, (
        f"{name}: {n} unpartitioned Window node(s) in the optimized "
        f"plan ({allowed} whitelisted) — a global window runs as ONE "
        f"task; partition it, bound its input, or whitelist it with "
        f"a boundedness argument"
    )


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGETS))
def test_shuffle_budget(spark, name):
    a = audit(name, df_of(spark, name))
    assert a.shuffles <= SHUFFLE_BUDGETS[name], (
        f"{name}: {a.shuffles} exchanges > budget {SHUFFLE_BUDGETS[name]}"
    )


# Jobs a registry op may start while spec.fn() BUILDS its frame (work
# counts, not wall time). The multimodal dedup ops carry (id, fp)
# through one bucket shuffle, so their build is fully lazy; the IVF
# k-means fit is one bounded collect of the fit set.
BUILD_JOBS = {
    "multimodal_audio_fp_dedup": 0,
    "multimodal_phash_dedup": 0,
    "sim_ann_ivf": 1,
}


@pytest.mark.parametrize("name", sorted(BUILD_JOBS))
def test_build_job_count(spark, name):
    sc = spark.sparkContext
    group = f"build-jobs:{name}"
    spark.catalog.clearCache()
    sc.setJobGroup(group, name)
    try:
        REGISTRY[name].fn(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == BUILD_JOBS[name], f"{name}: {jobs} jobs while building"
