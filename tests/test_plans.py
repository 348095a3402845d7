"""Physical-plan regression guards (the executable half of PLANS.md).

Correctness tests can't catch a scale regression — a lost filter pushdown or
a broadcast that degraded to shuffle produces identical rows, just 100× the
I/O at 100 TB. These assertions pin the plan shapes the engine's design
depends on, so a refactor that silently de-optimizes a query fails CI.

Plans are inspected pre-execution (the AQE-wrapped initial plan): pushdown,
scan schema and join strategy are all decided by then; only runtime
re-planning (skew splits, broadcast demotion) comes later.
"""

from __future__ import annotations

import re

import pytest

from trafficanalysisbigdata_spark.io import register_views
from trafficanalysisbigdata_spark.plans.registry import queries
from trafficanalysisbigdata_spark.session import prep

ALL_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# a join keyed on doc_id, as the simpleString plan prints it
# (``BroadcastHashJoin [doc_id#0L], [doc_id#37L], ...``)
_DOC_ID_JOIN = re.compile(r"Join \[doc_id#\d+L?\]")


@pytest.fixture(scope="module", autouse=True)
def _views(spark, sf_dir):
    prep(spark)
    # cached relations from other modules would replace scans with
    # InMemoryRelation and void every shape assertion below
    spark.catalog.clearCache()
    register_views(spark, sf_dir, *ALL_TABLES)


def _plan(spark, sf_dir, name: str) -> str:
    return (
        queries()[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_p6_filter_reaches_parquet_scan(spark, sf_dir):
    """P6/S3: the equality predicate must be pushed into the scan."""
    plan = _plan(spark, sf_dir, "p6_purchase_daily")
    assert "PushedFilters: [" in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_p6_scan_schema_is_pruned(spark, sf_dir):
    """Column pruning: a 2-measure aggregate must not read all 5 columns."""
    plan = _plan(spark, sf_dir, "p6_purchase_daily")
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("event_id" not in ln for ln in scans)


def test_j1_broadcasts_nation_dim(spark, sf_dir):
    """J1: the bounded nation dim joins as BroadcastHashJoin on n_nationkey.
    (Whether the fact-fact joins shuffle is size-based and SF-dependent —
    at sf0.001 AQE broadcasts those too, which is the right call there.)"""
    plan = _plan(spark, sf_dir, "j1_revenue_by_nation")
    assert "BroadcastHashJoin" in plan and "n_nationkey" in plan
    assert "CartesianProduct" not in plan


def test_t2_uses_take_ordered(spark, sf_dir):
    """T2: top-k compiles to TakeOrderedAndProject, never a global sort."""
    plan = _plan(spark, sf_dir, "t2_top10_parts_by_revenue")
    assert "TakeOrderedAndProject" in plan


def test_no_cartesian_outside_allowlist(spark, sf_dir):
    """Cross joins are reserved for broadcast-stat/probe/centroid patterns
    (tiny build side); any other cartesian is a scale bug."""
    cross_ok = {
        # broadcast of a one-row stat or a k-row shortlist — by design
        "a9_summary_stats", "p8_sigma_outliers", "p9_quantile_peaks",
        "a13_histogram", "sim1_ann_topk_bruteforce", "sim5_ann_topk_ivf",
        "dd5_semantic_centroid_dedup", "f19_minmax_normalize",
        # the documented O(n²) correctness baseline
        "sim2_embedding_neardup_pairs",
    }
    for name in ("a1_totals_by_event_type", "dd2_minhash_lsh", "j8_full_outer_daily_activity",
                 "sim4_lsh_neardup_pairs", "w6_daily_distribution_ranks"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert name in cross_ok or "BroadcastNestedLoopJoin" not in plan, name


def test_aggregates_are_partial_final(spark, sf_dir):
    """A1: map-side partial aggregation before the exchange."""
    plan = _plan(spark, sf_dir, "a1_totals_by_event_type")
    assert plan.count("HashAggregate") >= 2 or plan.count("SortAggregate") >= 2


def test_dd5_reuses_cell_index_exchange(spark, sf_dir):
    """dd5's self-join + sizes + dupe counts must share one repartition(cid)
    exchange at runtime (AQE stage reuse), not recompute the assignment."""
    df = queries()["dd5_semantic_centroid_dedup"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedQueryStage" in plan or "ReusedExchange" in plan


def test_sql1_pushes_date_filter(spark, sf_dir):
    """The shared-dialect SQL path gets the same pushdown as DataFrame code."""
    plan = _plan(spark, sf_dir, "sql1_pricing_summary")
    assert "PushedFilters: [" in plan and "l_shipdate" in plan


def test_sql2_exists_becomes_semi_join(spark, sf_dir):
    """Correlated EXISTS must rewrite to a semi join, not a full join+dedup."""
    plan = _plan(spark, sf_dir, "sql2_exists_big_spenders")
    assert "LeftSemi" in plan


def test_s14_delta_filter_reaches_parquet_scan(spark, sf_dir):
    """s14's correction batch must scan with a pushed ts range — a
    cast(ts as date)=lit formulation silently reads the whole table."""
    from trafficanalysisbigdata_spark.io import load_table
    from trafficanalysisbigdata_spark.plans.queries_sources import correction_delta

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    plan = (
        correction_delta(ev, "2024-01-30")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "GreaterThanOrEqual(ts," in plan and "LessThan(ts," in plan


def test_sim7_broadcasts_probes_no_corpus_shuffle(spark, sf_dir):
    """sim7: probes attach as a broadcast nested-loop over the corpus scan;
    the corpus must not hash-exchange before scoring (the only exchange is
    the per-probe top-k window over candidate rows)."""
    plan = _plan(spark, sf_dir, "sim7_int8_quantized_topk")
    assert "BroadcastNestedLoopJoin" in plan
    pre_join = plan.split("BroadcastNestedLoopJoin")[-1]
    # the corpus side (below the join in the tree) scans embeddings with no
    # Exchange between scan and join
    assert "Exchange hashpartitioning" not in pre_join.split("Scan")[0]


def test_dd7_aggregates_are_partial_final(spark, sf_dir):
    """dd7: both the (k, doc) occurrence agg and the df agg must compile to
    partial+final HashAggregate pairs (map-side combine before the key
    shuffle), the posting key must be the 8-byte xxhash64 long (not the
    md5 hex string it replaced — 4x narrower exchanges), and the postings
    shuffle must carry the key, never span text."""
    plan = _plan(spark, sf_dir, "dd7_duplicate_spans")
    assert plan.count("HashAggregate") >= 4  # >= 2 partial/final pairs
    assert "xxhash64" in plan
    # span text never crosses an exchange: no exchange key contains 'sh'
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "sh#" not in ln, ln


def test_olap6_single_pass_no_self_join(spark, sf_dir):
    """olap6: the funnel is two aggregations over one events scan — no
    join of events against itself (the naive per-stage-filter funnel)."""
    plan = _plan(spark, sf_dir, "olap6_funnel_conversion")
    assert plan.count("Scan parquet") + plan.count("Scan ExistingRDD") <= 2
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 4


def test_olap7_windows_partition_by_user(spark, sf_dir):
    """olap7: every window must partition by user_id — an unpartitioned
    window would funnel the log through one task."""
    plan = _plan(spark, sf_dir, "olap7_scd2_intervals")
    for ln in plan.splitlines():
        if "Window" in ln and "windowspecdefinition" in ln:
            assert "user_id" in ln, ln


def test_olap8_single_scan_no_join(spark, sf_dir):
    """olap8: cohort day and the distinct-day set aggregate in ONE
    partial/final pass over ONE events scan — the rejected join shape had
    two scans and a per-user build side that only broadcasts at toy
    scale."""
    plan = _plan(spark, sf_dir, "olap8_retention_cohorts")
    assert plan.count("Scan parquet") + plan.count("Scan ExistingRDD") == 1
    assert "Join" not in plan
    assert "partial_collect_set" in plan


def test_sql3_topk_and_broadcast_dim(spark, sf_dir):
    """sql3: LIMIT-over-ORDER BY must run as TakeOrderedAndProject and the
    segment-filtered customer dim must broadcast."""
    plan = _plan(spark, sf_dir, "sql3_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # pushed to the scan


def test_sql4_exists_becomes_semi_join(spark, sf_dir):
    """sql4: correlated EXISTS with a non-equi conjunct still plans as a
    left semi join (the date comparison rides as the join condition)."""
    plan = _plan(spark, sf_dir, "sql4_order_priority_check")
    assert "LeftSemi" in plan


def test_olap9_no_unpartitioned_catalog_window(spark, sf_dir):
    """olap9: the Pareto cumsum must run as the two-phase distributed
    prefix-sum — every Window over the per-part catalog carries a partition
    spec (pid / constant-ledger), so no single-reducer global sort survives
    a billion-part catalog. windowspecdefinition's first argument is its
    partition expression; an unpartitioned window starts straight with the
    ordering spec (rev_dec DESC)."""
    plan = _plan(spark, sf_dir, "olap9_pareto_abc")
    assert "Window" in plan  # the per-partition cumsum is still a window
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            spec = ln.split("windowspecdefinition", 1)[1]
            head = spec.split(",", 1)[0]
            assert "rev_dec" not in head and "DESC" not in head, ln


def test_a16_mode_argmax_is_partial_final(spark, sf_dir):
    """a16: the mode argmax is a partial-aggregable max(struct), not a
    per-group window sort — no windowspecdefinition in the plan at all
    except percentile_disc's SortAggregate path."""
    plan = _plan(spark, sf_dir, "a16_mode_median")
    assert "windowspecdefinition" not in plan


def test_j9_runtime_bloom_filter_injected(spark, sf_dir):
    """j9: the lineitem side must carry a might_contain runtime bloom
    filter built from the selective orders side, applied BEFORE the join
    exchange — rows that cannot join never shuffle."""
    plan = _plan(spark, sf_dir, "j9_bloom_pruned_join")
    assert "might_contain" in plan
    assert "l_orderkey" in plan.split("might_contain", 1)[1][:200]


def test_sql10_disjunction_pushed_to_part_scan(spark, sf_dir):
    """sql10 (Q19 shape): the brand/size disjunction must reach the part
    scan as a pushed Or filter — evaluating the OR-of-ANDs only post-join
    would read every part row."""
    plan = _plan(spark, sf_dir, "sql10_disjunctive_revenue")
    scans = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    part_scan = [ln for ln in scans if "p_brand" in ln]
    assert part_scan and any("Or(" in ln for ln in part_scan)


def test_sql11_not_exists_becomes_anti_join(spark, sf_dir):
    """sql11 (Q22 shape): NOT EXISTS must plan as a left anti join on the
    order keys, and the scalar average subquery must not shuffle the
    customer table twice."""
    plan = _plan(spark, sf_dir, "sql11_dormant_rich_customers")
    assert "LeftAnti" in plan


def test_olap9_bucket_is_data_derived_not_physical(spark, sf_dir):
    """olap9 feeds `local` into two plan branches (ledger + join-back);
    correctness requires both to agree on the bucket key, so it must be a
    pure function of the DATA (value vs literal bounds), never the physical
    placement — Spark documents spark_partition_id() as nondeterministic,
    and a recomputed exchange could mis-align the two branches."""
    plan = _plan(spark, sf_dir, "olap9_pareto_abc")
    assert "spark_partition_id" not in plan.lower()


def test_sql15_filter_stays_in_outer_join_condition(spark, sf_dir):
    """sql15 (Q13): the priority filter must ride the LEFT OUTER join's ON
    clause — pushed to WHERE it would drop zero-order customers and erase
    the c_count=0 bucket. The plan must keep an outer join (Catalyst must
    NOT simplify it to inner because of the ON-side filter)."""
    plan = _plan(spark, sf_dir, "sql15_order_count_distribution")
    assert "LeftOuter" in plan


def test_sql16_in_subqueries_become_semi_joins(spark, sf_dir):
    """sql16 (Q20): both IN subqueries (supplier qualification, part
    LIKE-list) must plan as left semi joins, and the correlated HAVING
    aggregate must be decorrelated into a join (the plan compiles and
    carries no subquery nodes)."""
    plan = _plan(spark, sf_dir, "sql16_dominant_part_suppliers")
    assert plan.count("LeftSemi") >= 2
    assert "Subquery" not in plan or "SubqueryBroadcast" in plan


def test_sql17_exists_pair_becomes_semi_plus_anti(spark, sf_dir):
    """sql17 (Q21): the correlated EXISTS plans as a left semi join and the
    correlated NOT EXISTS as a left anti join — four lineitem accesses
    co-partitioned on l_orderkey, no correlated-subquery execution."""
    plan = _plan(spark, sf_dir, "sql17_waiting_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_w11_single_user_exchange_reused(spark, sf_dir):
    """w11: both window passes and the session groupBy key on user_id, so
    the plan must contain exactly ONE hashpartitioning(user_id) exchange —
    a second one means Catalyst stopped reusing the partitioning and the
    sessionization pays double shuffle at 100 TB."""
    plan = _plan(spark, sf_dir, "w11_sessionize_gap30")
    user_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "user_id" in ln
    ]
    assert len(user_exchanges) == 1, plan


def test_tx14_no_shuffle_before_sort(spark, sf_dir):
    """tx14: chunking is a narrow explode — the only exchange allowed is
    the presentation ORDER BY's rangepartitioning; a hashpartitioning
    exchange would mean token arrays started crossing the network."""
    plan = _plan(spark, sf_dir, "tx14_context_chunks")
    assert "Exchange hashpartitioning" not in plan, plan


def test_tx13_regex_stays_in_codegen(spark, sf_dir):
    """tx13: the regex scrub must run inside whole-stage codegen (no UDF,
    no CodegenFallback stage) and aggregate partial+final on source."""
    plan = _plan(spark, sf_dir, "tx13_pii_redaction")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2, plan


def test_j10_fuzzy_join_is_blocked_equi_join(spark, sf_dir):
    """j10: the ED-1 match must be the FastSS blocked equi-join — no
    cartesian, no broadcast nested loop; levenshtein runs post-join on
    candidates only (SortMergeJoin/ShuffledHashJoin on the key hash)."""
    plan = _plan(spark, sf_dir, "j10_fuzzy_customer_match")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_olap11_funnel_uses_semi_joins(spark, sf_dir):
    """olap11: exists-semantics must lower to semi joins (two levels), not
    inner joins that would materialize chain enumerations."""
    plan = _plan(spark, sf_dir, "olap11_window_funnel")
    assert plan.count("LeftSemi") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_w12_windows_partition_by_series(spark, sf_dir):
    """w12: both anchor windows must be PARTITION BY event_type — a global
    ORDER BY window over the grid would single-thread the fill at scale."""
    plan = _plan(spark, sf_dir, "w12_hourly_grid_interpolate")
    import re

    for m in re.finditer(r"Window \[", plan):
        seg = plan[m.start(): plan.find("\n", m.start())]
        assert "event_type" in seg, seg


def test_a17_window_over_reduced_catalog(spark, sf_dir):
    """a17: the cumulative-weight windows must run over the (flag, price)
    pre-aggregation, never the raw fact rows — the plan needs a
    partial/final HashAggregate BELOW the Window, and every Window must
    carry the flag in its partition spec."""
    plan = _plan(spark, sf_dir, "a17_weighted_median")
    # Plan text prints root-first, so "a HashAggregate appears before the
    # Window" is vacuous (the final groupBy is always above). The real
    # invariant is a HashAggregate BELOW (printed after) the last Window:
    # the reduction that feeds the window, not the one that consumes it.
    assert plan.rindex("HashAggregate") > plan.rindex("Window"), plan
    import re

    for m in re.finditer(r"Window \[", plan):
        seg = plan[m.start(): plan.find("\n", m.start())]
        assert "l_returnflag" in seg, seg


def test_olap12_single_full_outer_no_cartesian(spark, sf_dir):
    """olap12: the diff is ONE full-outer equi-join of two aggregates."""
    plan = _plan(spark, sf_dir, "olap12_snapshot_diff")
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pipe11_no_unpartitioned_corpus_window(spark, sf_dir):
    """pipe11: the budget cumsum must run as the olap9-style two-phase
    distributed prefix-sum — every windowspecdefinition carries a partition
    spec (pid / constant-ledger), never a global (score DESC) sort through
    one reducer."""
    plan = _plan(spark, sf_dir, "pipe11_token_budget_select")
    assert "Window" in plan
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            spec = ln.split("windowspecdefinition", 1)[1]
            head = spec.split(",", 1)[0]
            assert "score" not in head and "DESC" not in head, ln


def test_tx15_postings_are_hashed_and_distinct_before_join(spark, sf_dir):
    """tx15: the contamination self-join must consume per-source DISTINCT
    xxhash64 postings — the join key is the 8-byte hash (no shingle strings
    cross the pair-join exchange) and both grid/ledger joins broadcast."""
    plan = _plan(spark, sf_dir, "tx15_cross_source_contamination")
    assert "xxhash64" in plan
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2


def test_j11_grid_join_no_nested_loop(spark, sf_dir):
    """j11: the keyless interval-overlap join must execute as an equi join
    on the grid cell (hash or sort-merge after the explode) — a
    NestedLoop/Cartesian node means the binning failed and the plan is the
    n² join that cannot run at scale."""
    plan = _plan(spark, sf_dir, "j11_interval_overlap_join")
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "Generate explode" in plan or "Expand" in plan or "sequence" in plan


def test_tx9_strategies_identical_and_big_path_joins(spark, sf_dir):
    """tx9's two DF strategies (window vs pre-aggregated-DF join) must be
    row-identical on the fixture, and the big-corpus path's plan must carry
    an equi join on the shingle (the AQE-skew-splittable shape) with no
    window over the postings."""
    from trafficanalysisbigdata_spark.plans.queries_text import (
        boilerplate_share_report,
    )

    queries()["tx9_boilerplate_share"]  # ensure registration intact
    docs = spark.table("documents")
    small = boilerplate_share_report(docs, False).collect()
    big = boilerplate_share_report(docs, True).collect()
    assert sorted(map(tuple, small)) == sorted(map(tuple, big))
    plan = (
        boilerplate_share_report(docs, True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "windowspecdefinition" not in plan


def test_tx16_winnow_is_codegen_window_not_lambda(spark, sf_dir):
    """tx16: the winnow selection must be the explode + sliding-frame
    window-min plan (whole-stage codegen), not interpreted array lambdas —
    the plan carries a Window with a pos-ordered ROWS frame partitioned by
    doc_id, and EXACTLY one Generate (r14: the explode+window subtree used
    to be replicated into three consumer branches; the restructure pins it
    to a single instance, so a second Generate means the md5 hashing pass
    got duplicated again). The md5 gram hashing must live INSIDE the
    Generate node (an inline generator expression — SPARK-33544 adds no
    inferred pre-filter for it), never in a Filter: a Filter evaluating the
    transform(md5 ...) means InferFiltersFromGenerate + pushdown re-inlined
    the hashing (3× per row, the r14-measured regression shape)."""
    plan = _plan(spark, sf_dir, "tx16_winnowing_fingerprints")
    assert "Window" in plan
    gen_lines = [ln for ln in plan.splitlines() if "Generate posexplode" in ln]
    assert len(gen_lines) == 1, plan
    assert "md5" in gen_lines[0], gen_lines  # hashing inline in the generator
    for ln in plan.splitlines():
        # match Filter at any tree position (any ':'/'+'/'-' branch prefix
        # mix), not an enumerated prefix list — r14 advice
        if re.match(r"^[\s:+-]*\(?\d*\)?\s*Filter\b", ln) or "Filter (" in ln:
            assert "md5" not in ln, ln
        if "windowspecdefinition" in ln and "pos#" in ln:
            assert "doc_id" in ln.split("windowspecdefinition", 1)[1].split(",", 1)[0], ln
    # the doc_id window is the sliding ROWS-frame min; the only other
    # window allowed is the per-hash doc-count SUM over already-aggregated
    # (source, fph) rows — partitioned by fph, group size <= n_sources
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert (
                "specifiedwindowframe(RowFrame, currentrow" in ln
                or "fph" in ln.split("windowspecdefinition", 1)[1].split(",", 1)[0]
            ), ln


def test_pipe14_no_cartesian_and_pair_state_is_aggregated(spark, sf_dir):
    """pipe14's only pair-shaped state must be the (e, t) count aggregate fed
    by one token equi-join — no cartesian/nested-loop join anywhere except
    df_capped's 1-row broadcast corpus-total (BroadcastNestedLoopJoin with a
    single-row build, the engine's scalar idiom)."""
    plan = _plan(spark, sf_dir, "pipe14_containment_leak_scan")
    assert "CartesianProduct" not in plan, plan
    # the (e, t) candidate count is THE pair-shaped state the scale claim
    # rests on: it must be a hash aggregate keyed on exactly (e, t), with a
    # map-side partial_count so per-pair rows combine before the exchange
    # (r12-advice fix: the old `'HashAggregate' in plan` check passed on any
    # aggregate anywhere)
    import re

    assert re.search(
        r"HashAggregate\(keys=\[e#\d+L?, t#\d+L?\], functions=\[partial_count\(1\)\]",
        plan,
    ), plan
    assert re.search(
        r"HashAggregate\(keys=\[e#\d+L?, t#\d+L?\], functions=\[count\(1\)\]", plan
    ), plan
    # r15 continuation guard: is_train rides the postings as the derivable
    # _hash_frac(doc_id) EXPRESSION, never a join — the old split attach put
    # one doc_id-keyed BroadcastHashJoin inside every replicated shingle
    # subtree (6 of them), probing every posting row for a bit the scan can
    # compute itself. The only doc-keyed join left is the final source
    # attach, keyed on the renamed `e`.
    assert not _DOC_ID_JOIN.search(plan), plan


def test_pipe14_doc_id_join_guard_matches_old_shape(spark, sf_dir):
    """Negative twin of pipe14's continuation guard: the old shape — shingle
    postings joined to a doc_id-keyed split frame — must trip the regex."""
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.operators.dedup import doc_shingle_sets
    from trafficanalysisbigdata_spark.plans.queries_pipeline import _hash_frac

    docs = spark.table("documents").select("doc_id", "source", "text")
    split = docs.select("doc_id", (_hash_frac(F.col("doc_id")) < 0.9).alias("is_train"))
    old = doc_shingle_sets(docs).join(split, "doc_id")
    assert _DOC_ID_JOIN.search(old._jdf.queryExecution().executedPlan().toString())


def test_dd10_scrub_is_anti_join_not_pair_shaped(spark, sf_dir):
    """dd10's scale claim: duplicate detection is dd7's long-keyed postings
    aggregate, the scrub is a LEFT ANTI equi join of token postings against
    covered positions, and no stage holds doc x doc state — no cartesian
    anywhere, and the rebuild's collect_list aggregates per doc_id."""
    plan = _plan(spark, sf_dir, "dd10_dup_span_scrub")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plan, plan
    assert "collect_list" in plan, plan


def test_tx17_windows_partition_by_source(spark, sf_dir):
    """tx17: both running sums must ride ONE window partitioned by source —
    an unpartitioned cumsum would funnel the corpus through a single task,
    and a second window spec would mean the sums stopped sharing their
    exchange+sort."""
    plan = _plan(spark, sf_dir, "tx17_heaps_vocab_growth")
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert specs, plan
    for ln in specs:
        assert "source" in ln.split("windowspecdefinition", 1)[1].split(",", 1)[0], ln
    assert plan.count("Window") <= 2  # one logical window (tree + detail)


def test_tx18_is_take_ordered_with_filtered_postings(spark, sf_dir):
    """tx18: the ranking must compile to TakeOrderedAndProject (never a
    global sort), the term filter must sit ON the postings explode so
    non-query tokens never reach a shuffle, and the only nested-loop join
    is the 1-row (N, avgdl) scalar broadcast."""
    plan = _plan(spark, sf_dir, "tx18_bm25_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan

    # The term filter must be the DIRECT parent of every token-emitting
    # Generate (explode): walking up from each Generate, the first
    # Filter/Exchange/HashAggregate node reached must be the IN-list filter —
    # a regression that lets the explode feed an exchange or aggregate before
    # the term filter ships every token in the corpus through the shuffle.
    lines = plan.splitlines()
    gen_idx = [
        i
        for i, ln in enumerate(lines)
        if "Generate explode" in ln and "token" in ln
    ]
    assert gen_idx, plan
    for i in gen_idx:
        parent = next(
            (
                lines[j]
                for j in range(i - 1, -1, -1)
                if any(k in lines[j] for k in ("Filter", "Exchange", "HashAggregate"))
            ),
            "",
        )
        assert "Filter" in parent and (
            "IN (window,merge,sort)" in parent or "INSET" in parent
        ), f"term filter not directly on the explode:\n{parent}\n{plan}"


def test_pipe15_rank_filter_compiles_to_group_limit(spark, sf_dir):
    """pipe15's scale claim: rank() <= k must compile to WindowGroupLimit
    with a PARTIAL mode (map tasks keep only their own per-stratum top-k
    before the exchange) — a regression to the full per-stratum window
    funnels each stratum through one task."""
    plan = _plan(spark, sf_dir, "pipe15_stratified_eval_sample")
    assert "WindowGroupLimit" in plan, plan
    limits = [ln for ln in plan.splitlines() if "WindowGroupLimit" in ln]
    assert any("Partial" in ln for ln in limits), plan
    assert any("Final" in ln for ln in limits), plan


def test_pipe16_is_broadcast_only_with_group_limits(spark, sf_dir):
    """pipe16's scale claim: the eval side is benchmark-sized by contract,
    so EVERY join must be broadcast — stage 1 is the probes-broadcast
    nested-loop over the int8 train scan, stage 2 and the source ledger
    are BroadcastHashJoins — and both top-k selections must compile to
    WindowGroupLimit with a Partial mode (map tasks keep their own
    shortlist before the exchange). A SortMergeJoin or CartesianProduct
    anywhere means the eval×train contract broke and the gate would
    shuffle the train corpus."""
    plan = _plan(spark, sf_dir, "pipe16_semantic_decontaminate")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    limits = [ln for ln in plan.splitlines() if "WindowGroupLimit" in ln]
    assert any("Partial" in ln for ln in limits), plan
    assert any("Final" in ln for ln in limits), plan


def test_tx19_fusion_inputs_are_rank_bounded(spark, sf_dir):
    """tx19's scale claim: fusion state is ≤ 2×50 rows BY CONSTRUCTION —
    the lexical leg truncates via TakeOrderedAndProject(50) BEFORE its
    unpartitioned rank window, the semantic leg's per-probe top-50 keeps a
    map-side WindowGroupLimit Partial before any exchange, and the final
    fused ranking is TakeOrderedAndProject(20). A regression that feeds
    either unpartitioned window the untruncated corpus is the
    single-reducer sort this engine bans."""
    plan = _plan(spark, sf_dir, "tx19_hybrid_rrf_fusion")
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject(limit=20" in plan, plan
    assert "TakeOrderedAndProject(limit=50" in plan, plan
    lines = plan.splitlines()
    sem_win = [
        i
        for i, ln in enumerate(lines)
        if "windowspecdefinition(cos" in ln and "sem_rank" in ln
    ]
    assert sem_win, plan
    below = lines[sem_win[0] :]
    first_scan = next(j for j, ln in enumerate(below) if "FileScan" in ln)
    assert any(
        "WindowGroupLimit" in ln and "Partial" in ln
        for ln in below[:first_scan]
    ), plan


def test_tx17b_no_unpartitioned_window(spark, sf_dir):
    """tx17b's scale claim (the tx17 decimation dial): the running sums and
    the offset ledger must ride PARTITIONED windows only — the local
    cumsums by (source, range-bucket), the ledger by source — so no task
    ever sorts more than one source-bucket or one source's n_buckets
    ledger rows. An unpartitioned windowspec here means the dial silently
    regressed to the single-reducer cumsum it exists to avoid."""
    plan = _plan(spark, sf_dir, "tx17b_heaps_vocab_decimated")
    specs = [
        ln for ln in plan.splitlines() if "windowspecdefinition" in ln
    ]
    assert specs, plan
    for ln in specs:
        spec = ln.split("windowspecdefinition", 1)[1]
        head = spec.split("specifiedwindowframe", 1)[0]
        assert "source" in head, ln


def test_sim10_single_shortlist_scan_feeds_pandas_greedy(spark, sf_dir):
    """sim10's scale claim: the pairwise MMR matrix must come from ONE
    shortlist computation (a single probes-broadcast nested-loop over the
    corpus scan, WindowGroupLimit Partial before its exchange) plus ONE
    broadcast vector fetch — a naive self-join would re-evaluate the
    candidate subtree and rescan the corpus twice. The only Python stage
    is the per-probe greedy (FlatMapGroupsInPandas) above the JVM-side
    collect_list pair grid; no cartesian, no sort-merge join anywhere."""
    plan = _plan(spark, sf_dir, "sim10_mmr_diversified_topk")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    # shortlist + vector fetch + broadcast probes: exactly three scans
    assert plan.count("FileScan") == 3, plan
    limits = [ln for ln in plan.splitlines() if "WindowGroupLimit" in ln]
    assert any("Partial" in ln for ln in limits), plan
    assert any("Final" in ln for ln in limits), plan


def test_dd11_single_doc_exchange_no_joins(spark, sf_dir):
    """dd11's scale claim: exactly ONE exchange carries token-granularity
    rows — the doc-keyed partitioning shared by the boundary-cumsum window
    and the (doc, chunk) rebuild — and the whole pipeline is join-free
    (a hot boilerplate chunk is a COUNT under partial aggregation, never a
    join fan-out). A second doc_id exchange means the window and the
    rebuild stopped sharing partitioning; any join means the fp ledger
    regressed to something pair-shaped."""
    plan = _plan(spark, sf_dir, "dd11_cdc_chunk_dedup")
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan
    assert "Generate posexplode" in plan, plan
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert specs and all("doc_id" in ln for ln in specs), plan


@pytest.mark.parametrize(
    "name", ["pipe17_weighted_sample", "pipe17b_quality_weighted_sample"]
)
def test_pipe17_weighted_rank_compiles_to_group_limit(spark, sf_dir, name):
    """pipe17/pipe17b's scale claim (pipe15's shape over the A-ES key
    order): rank() <= k must compile to WindowGroupLimit Partial+Final so
    map tasks keep only their own k smallest exponential keys per source
    before the exchange — and the whole sampler stays join-free (the key,
    including pipe17b's quality weight, is a row-local expression, never
    a lookup)."""
    plan = _plan(spark, sf_dir, name)
    assert "Join" not in plan, plan
    limits = [ln for ln in plan.splitlines() if "WindowGroupLimit" in ln]
    assert any("Partial" in ln for ln in limits), plan
    assert any("Final" in ln for ln in limits), plan


def test_dd11b_pandas_guard_single_doc_exchange_no_joins(spark, sf_dir):
    """dd11b's scale claim: the sequential min/max guard is the ONLY
    Python stage — one batch-amortized MapInPandas over doc-sorted
    partitions (NOT a per-doc FlatMapGroupsInPandas: with corpus-many
    groups the per-group Arrow overhead was the measured 9x cost,
    BENCH_LOCAL round 14) — fed by exactly one doc-keyed exchange of
    token rows with the boundary hash computed JVM-side below it;
    everything above is dd11's join-free 16-byte-fp ledger."""
    plan = _plan(spark, sf_dir, "dd11b_cdc_guarded_chunks")
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan
    assert "Generate posexplode" in plan, plan
    # the md5-derived boundary flag is computed before the Python stage:
    # the conv(substring(md5(token))) % 16 expression must sit in a JVM
    # Project feeding the pandas group, not be re-derived in Python
    flag_lines = [
        ln for ln in plan.splitlines()
        if "Project" in ln and "conv(substring(md5(" in ln and "% 16" in ln
    ]
    assert flag_lines, plan
