"""Physical-plan regression guards (the executable half of PLANS.md).

Correctness tests can't catch a scale regression — a lost filter pushdown or
a broadcast that degraded to shuffle produces identical rows, just 100× the
I/O at 100 TB. These guards pin the plan shapes the engine's design depends
on, so a refactor that silently de-optimizes a query fails CI.

A guard is a predicate over the typed plan records of ``plan_tree`` plus a
negative twin: a plan with the regressed shape that the predicate must
reject (``test_twin_is_rejected``). ``@guard`` requires the twin, so a guard
cannot be registered without one. A twin is a conf that switches the
optimization off, another registered query with the banned shape, or a
hand-built frame; a guard leads with the assertion its twin trips. Plans are
the AQE initial plan (pushdown, scan schema and join strategy are decided by
then); runtime claims read the final plan after an action on the Dataset.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.plan_tree import Node, exchanges, joins, nodes, plan_of
from trafficanalysisbigdata_spark.functions.hashing import hash_frac
from trafficanalysisbigdata_spark.io import load_table, register_views
from trafficanalysisbigdata_spark.operators.dedup import doc_shingle_sets
from trafficanalysisbigdata_spark.plans.queries_sources import correction_delta
from trafficanalysisbigdata_spark.plans.queries_text import boilerplate_share_report
from trafficanalysisbigdata_spark.plans.registry import queries
from trafficanalysisbigdata_spark.session import prep

ALL_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
AGGS = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
PAIR_JOINS = ("CartesianProduct", "BroadcastNestedLoopJoin")
NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.optimizer.disableHints": "true"}
NO_TOPK = {"spark.sql.execution.topKSortFallbackThreshold": "0"}
NO_GROUP_LIMIT = {"spark.sql.optimizer.windowGroupLimitThreshold": "-1"}
_RULES = "org.apache.spark.sql.catalyst.optimizer."
TWINS: dict = {}


@pytest.fixture(scope="module", autouse=True)
def _views(spark, sf_dir):
    prep(spark)
    # cached relations from other modules would replace scans with
    # InMemoryRelation and void every shape assertion below
    spark.catalog.clearCache()
    register_views(spark, sf_dir, *ALL_TABLES)


def _plan(subject, spark, sf_dir) -> Node:
    """A subject is a registered query name or ``(spark, sf_dir) -> DataFrame | Node``."""
    if isinstance(subject, str):
        return plan_of(queries()[subject](spark, sf_dir))
    out = subject(spark, sf_dir)
    return out if isinstance(out, Node) else plan_of(out)


def _conf(subject, confs: dict):
    """``subject`` planned under ``confs`` (restored afterwards)."""
    def build(spark, sf_dir):
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            return _plan(subject, spark, sf_dir)
        finally:
            for k, v in old.items():
                spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    return build


def guard(*subjects, twin):
    """Register ``check(plan)`` against each subject's plan; it must also raise
    ``AssertionError`` on ``twin``'s plan (a conf dict: the subject under it)."""
    def register(check):
        TWINS[check.__name__] = (
            check, _conf(subjects[0], twin) if isinstance(twin, dict) else twin)
        if len(subjects) == 1:
            def test(spark, sf_dir):
                check(_plan(subjects[0], spark, sf_dir))
        else:
            @pytest.mark.parametrize("name", subjects)
            def test(spark, sf_dir, name):
                check(_plan(name, spark, sf_dir))
        test.__name__, test.__doc__ = check.__name__, check.__doc__
        return test
    return register


def _partial(plan: Node) -> list[Node]:
    return [n for n in nodes(plan, *AGGS) if any(e.startswith("partial_") for e in n.exprs)]


def _one(xs: list):
    assert len(xs) == 1, xs
    return xs[0]


def _scans(plan: Node) -> list[Node]:
    return nodes(plan, "FileSourceScan")


def _windows_by(plan: Node, col: str) -> bool:
    windows = nodes(plan, "Window")
    return bool(windows) and all(col in w.keys for w in windows)


def _group_limits(plan: Node) -> set[str]:
    return {n.mode for n in nodes(plan, "WindowGroupLimit")}


def _feed(n: Node) -> Node:
    """The first operator under ``n`` past projections, filters, sorts, exchanges, windows."""
    while n.op in ("Project", "Filter", "Sort", "ShuffleExchange", "Window"):
        n = n.children[0]
    return n


def _global_windows_over_rows(plan: Node) -> list[Node]:
    """Unpartitioned windows (one reducer) whose input is not already bounded
    by an aggregate, a top-k or a group limit."""
    bounded = AGGS + ("TakeOrderedAndProject", "WindowGroupLimit")
    return [w for w in nodes(plan, "Window")
            if not w.keys and _feed(w.children[0]).op not in bounded]


def _global_cumsum(spark, sf_dir):
    """The single-reducer sort the prefix-sum operator exists to avoid."""
    return spark.table("lineitem").withColumn(
        "cum", F.sum("l_extendedprice").over(Window.orderBy(F.desc("l_extendedprice"))))


def _sweep(spark, sf_dir) -> Node:
    names = ("a1_totals_by_event_type", "dd2_minhash_lsh", "j8_full_outer_daily_activity",
             "sim4_lsh_neardup_pairs", "w6_daily_distribution_ranks")
    return Node("Sweep", "", tuple(_plan(n, spark, sf_dir) for n in names))


@guard("p6_purchase_daily", twin="a1_totals_by_event_type")
def test_p6_filter_reaches_parquet_scan(plan):
    """P6/S3: the equality predicate must be pushed into the scan."""
    assert any("EqualTo(event_type,purchase)" in s.pushed for s in _scans(plan))


@guard("p6_purchase_daily", twin={"spark.sql.optimizer.excludedRules": _RULES + "ColumnPruning"})
def test_p6_scan_schema_is_pruned(plan):
    """Column pruning: a 2-measure aggregate must not read all 5 columns."""
    scans = _scans(plan)
    assert scans and all("event_id" not in s.columns for s in scans)


@guard("j1_revenue_by_nation", twin=NO_BROADCAST)
def test_j1_broadcasts_nation_dim(plan):
    """J1: the bounded nation dim joins as BroadcastHashJoin on n_nationkey
    (whether the fact-fact joins shuffle is size-based and SF-dependent)."""
    assert {j.op for j in joins(plan, keyed_on="n_nationkey")} == {"BroadcastHashJoin"}
    assert not nodes(plan, "CartesianProduct")


@guard("t2_top10_parts_by_revenue", twin=NO_TOPK)
def test_t2_uses_take_ordered(plan):
    """T2: top-k compiles to TakeOrderedAndProject, never a global sort."""
    assert nodes(plan, "TakeOrderedAndProject")


@guard(_sweep, twin="sim2_embedding_neardup_pairs")
def test_no_cartesian_or_nested_loop_in_sweep(plan):
    """Cross joins are reserved for broadcast-stat/probe/centroid patterns
    (tiny build side); these queries must plan without any pair-shaped join."""
    assert not nodes(plan, *PAIR_JOINS)


@guard("a1_totals_by_event_type", twin="tx14_context_chunks")
def test_aggregates_are_partial_final(plan):
    """A1: map-side partial aggregation before the exchange."""
    assert _partial(plan) and len(nodes(plan, *AGGS)) >= 2


def _dd5_final(spark, sf_dir):
    df = queries()["dd5_semantic_centroid_dedup"](spark, sf_dir)
    df.collect()
    return plan_of(df, final=True)


@guard(_dd5_final, twin={"spark.sql.exchange.reuse": "false"})
def test_dd5_reuses_cell_index_exchange(plan):
    """dd5's self-join + sizes + dupe counts must share one repartition(cid)
    exchange at runtime (AQE stage reuse), not recompute the assignment."""
    assert nodes(plan, "ReusedExchange")


@guard("sql1_pricing_summary", twin="t2_top10_parts_by_revenue")
def test_sql1_pushes_date_filter(plan):
    """The shared-dialect SQL path gets the same pushdown as DataFrame code."""
    assert any("l_shipdate" in f and not f.startswith("IsNotNull")
               for s in _scans(plan) for f in s.pushed)


@guard("sql2_exists_big_spenders", twin="sql3_shipping_priority")
def test_sql2_exists_becomes_semi_join(plan):
    """Correlated EXISTS must rewrite to a semi join, not a full join+dedup."""
    assert joins(plan, how="LeftSemi")


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select("event_id", "ts", "value")


@guard(lambda spark, sf_dir: correction_delta(_events(spark, sf_dir), "2024-01-30"),
       twin=lambda spark, sf_dir: _events(spark, sf_dir).filter(
           F.date_format("ts", "yyyy-MM-dd") == "2024-01-30"))
def test_s14_delta_filter_reaches_parquet_scan(plan):
    """s14's correction batch must scan with a pushed ts range — a derived
    day-string filter silently reads the whole table. (Spark 4.1 does unwrap
    ``cast(ts as date) = lit`` into that range.)"""
    pushed = [f for s in _scans(plan) for f in s.pushed]
    assert any(f.startswith("GreaterThanOrEqual(ts,") for f in pushed)
    assert any(f.startswith("LessThan(ts,") for f in pushed)


@guard("sim7_int8_quantized_topk", twin=NO_BROADCAST)
def test_sim7_broadcasts_probes_no_corpus_shuffle(plan):
    """sim7: probes attach as a broadcast nested loop over the corpus scan;
    the corpus side must not shuffle before scoring."""
    bnlj = _one(nodes(plan, "BroadcastNestedLoopJoin"))
    corpus = _one([c for c in bnlj.children if c.op != "BroadcastExchange"])
    assert nodes(corpus, "FileSourceScan") and not exchanges(corpus)


@guard("dd7_duplicate_spans", twin=lambda spark, sf_dir: spark.table("documents").select(
    F.explode(F.split("text", " ")).alias("sh")).groupBy("sh").count())
def test_dd7_aggregates_are_partial_final(plan):
    """dd7: span text ``sh`` never keys an exchange; the posting key is its
    8-byte xxhash64 (4x narrower than the md5 hex it replaced), and the
    (k, doc) occurrence and df aggregates combine map-side."""
    assert not exchanges(plan, keyed_on="sh")
    assert any("xxhash64(sh" in e for p in nodes(plan, "Project") for e in p.exprs)
    assert len(_partial(plan)) >= 2


@guard("olap6_funnel_conversion", twin="olap12_snapshot_diff")
def test_olap6_single_pass_no_self_join(plan):
    """olap6: the funnel is two aggregations over one events scan — no
    join of events against itself (the naive per-stage-filter funnel)."""
    assert not joins(plan)
    assert len(nodes(plan, "FileSourceScan", "RDDScan")) <= 2
    assert len(_partial(plan)) >= 2


@guard("olap7_scd2_intervals", twin="w12_hourly_grid_interpolate")
def test_olap7_windows_partition_by_user(plan):
    """olap7: every window must partition by user_id — an unpartitioned
    window would funnel the log through one task."""
    assert _windows_by(plan, "user_id")


@guard("olap8_retention_cohorts", twin="olap12_snapshot_diff")
def test_olap8_single_scan_no_join(plan):
    """olap8: cohort day and distinct-day set aggregate in ONE partial/final
    pass over ONE scan — the rejected join shape's build side only broadcasts at toy scale."""
    assert len(nodes(plan, "FileSourceScan", "RDDScan")) == 1
    assert not joins(plan)
    assert any(e.startswith("partial_collect_set") for a in _partial(plan) for e in a.exprs)


@guard("sql3_shipping_priority", twin=NO_TOPK)
def test_sql3_topk_and_broadcast_dim(plan):
    """sql3: LIMIT-over-ORDER BY must run as TakeOrderedAndProject and the
    segment-filtered customer dim must broadcast (its filter pushed)."""
    assert nodes(plan, "TakeOrderedAndProject")
    assert {j.op for j in joins(plan, keyed_on="c_custkey")} == {"BroadcastHashJoin"}
    assert any("EqualTo(c_mktsegment,BUILDING)" in s.pushed for s in _scans(plan))


@guard("sql4_order_priority_check", twin="sql3_shipping_priority")
def test_sql4_exists_becomes_semi_join(plan):
    """sql4: correlated EXISTS with a non-equi conjunct still plans as a
    left semi join (the date comparison rides as the join condition)."""
    assert joins(plan, how="LeftSemi")


@guard("olap9_pareto_abc", twin=_global_cumsum)
def test_olap9_no_unpartitioned_catalog_window(plan):
    """olap9: the Pareto cumsum is the two-phase distributed prefix-sum — the
    catalog is only windowed per pid, the one global window reads per-pid
    aggregates, so no single-reducer sort survives a billion-part catalog."""
    assert not _global_windows_over_rows(plan)
    assert nodes(plan, "Window")  # the per-partition cumsum is still a window


@guard("a16_mode_median", twin="olap7_scd2_intervals")
def test_a16_mode_argmax_is_partial_final(plan):
    """a16: the mode argmax is a partial-aggregable max(struct), not a
    per-group window sort — no Window in the plan at all."""
    assert not nodes(plan, "Window")
    assert any(e.startswith("partial_max(struct(") for a in _partial(plan) for e in a.exprs)


@guard("j9_bloom_pruned_join", twin=lambda spark, sf_dir: spark.table("lineitem").join(
    spark.table("orders").filter("o_totalprice > 400000"),
    F.col("l_orderkey") == F.col("o_orderkey")))
def test_j9_runtime_bloom_filter_injected(plan):
    """j9: the lineitem side carries a might_contain runtime bloom filter
    from the selective orders side BELOW the join exchange: rows that cannot join never shuffle."""
    bloom = _one([f for f in nodes(plan, "Filter") if "might_contain" in f.exprs[0]])
    assert "xxhash64(l_orderkey" in bloom.exprs[0]
    assert any(bloom in nodes(e) for e in exchanges(plan, keyed_on="l_orderkey"))


@guard("sql10_disjunctive_revenue",
       twin={"spark.sql.optimizer.excludedRules": _RULES + "PushExtraPredicateThroughJoin"})
def test_sql10_disjunction_pushed_to_part_scan(plan):
    """sql10 (Q19 shape): the brand/size disjunction must reach the part
    scan as a pushed Or filter — evaluating the OR-of-ANDs only post-join
    would read every part row."""
    assert any(f.startswith("Or(") and "p_brand" in f
               for s in _scans(plan) for f in s.pushed)


@guard("sql11_dormant_rich_customers", twin="sql3_shipping_priority")
def test_sql11_not_exists_becomes_anti_join(plan):
    """sql11 (Q22 shape): NOT EXISTS must plan as a left anti join."""
    assert joins(plan, how="LeftAnti")


@guard("olap9_pareto_abc", twin=lambda spark, sf_dir: spark.table("part").select(
    "p_partkey", F.spark_partition_id().alias("pid")))
def test_olap9_bucket_is_data_derived_not_physical(plan):
    """olap9's two branches (ledger + join-back) must agree on the bucket key,
    so it is a function of the DATA, never the physical placement —
    spark_partition_id() is nondeterministic."""
    assert not [e for n in nodes(plan) for e in n.exprs if "spark_partition_id" in e.lower()]


@guard("sql15_order_count_distribution", twin="sql3_shipping_priority")
def test_sql15_filter_stays_in_outer_join_condition(plan):
    """sql15 (Q13): the priority filter must ride the LEFT OUTER join's ON
    clause — pushed to WHERE it would drop zero-order customers and erase
    the c_count=0 bucket; Catalyst must NOT simplify the join to inner."""
    assert joins(plan, how="LeftOuter")


@guard("sql16_dominant_part_suppliers", twin="sql2_exists_big_spenders")
def test_sql16_in_subqueries_become_semi_joins(plan):
    """sql16 (Q20): both IN subqueries (supplier qualification, part
    LIKE-list) must plan as left semi joins, and the correlated HAVING
    aggregate must be decorrelated into a join (no subquery nodes)."""
    assert len(joins(plan, how="LeftSemi")) >= 2
    assert not nodes(plan, "Subquery")


@guard("sql17_waiting_suppliers", twin="sql2_exists_big_spenders")
def test_sql17_exists_pair_becomes_semi_plus_anti(plan):
    """sql17 (Q21): correlated EXISTS plans as a left semi join and NOT
    EXISTS as a left anti join — no correlated-subquery execution."""
    assert joins(plan, how="LeftAnti")
    assert joins(plan, how="LeftSemi")


@guard("w11_sessionize_gap30", twin={"spark.sql.requireAllClusterKeysForDistribution": "true"})
def test_w11_single_user_exchange_reused(plan):
    """w11: both window passes and the session groupBy key on user_id, so
    exactly ONE exchange may hash on user_id — a second one means the
    groupBy stopped reusing the partitioning (double shuffle at 100 TB)."""
    assert len(exchanges(plan, keyed_on="user_id")) == 1


@guard("tx14_context_chunks", twin="tx13_pii_redaction")
def test_tx14_no_shuffle_before_sort(plan):
    """tx14: chunking is a narrow explode — the only exchange allowed is
    the presentation ORDER BY's range partitioning; a hash exchange would
    mean token arrays started crossing the network."""
    assert {e.mode for e in exchanges(plan)} <= {"RangePartitioning"}


@guard("tx13_pii_redaction", twin=lambda spark, sf_dir: spark.table("documents").select(
    F.udf(str.lower)("text")))
def test_tx13_regex_stays_in_codegen(plan):
    """tx13: the regex scrub must run inside whole-stage codegen (no Python
    UDF stage) and aggregate partial+final on source."""
    assert not nodes(plan, "BatchEvalPython", "ArrowEvalPython")
    assert _partial(plan)


@guard("j10_fuzzy_customer_match", twin="sim2_embedding_neardup_pairs")
def test_j10_fuzzy_join_is_blocked_equi_join(plan):
    """j10: the ED-1 match is the FastSS blocked equi-join on the key hash —
    no pair-shaped join; levenshtein runs post-join on candidates only."""
    assert not nodes(plan, *PAIR_JOINS)
    assert joins(plan, keyed_on="kh")


@guard("olap11_window_funnel", twin="sql2_exists_big_spenders")
def test_olap11_funnel_uses_semi_joins(plan):
    """olap11: exists-semantics must lower to semi joins (two levels), not
    inner joins that would materialize chain enumerations."""
    assert len(joins(plan, how="LeftSemi")) >= 2
    assert not nodes(plan, "CartesianProduct")


@guard("w12_hourly_grid_interpolate", twin="olap7_scd2_intervals")
def test_w12_windows_partition_by_series(plan):
    """w12: the anchor windows must be PARTITION BY event_type — a global
    ORDER BY window over the grid would single-thread the fill at scale."""
    assert _windows_by(plan, "event_type")


@guard("a17_weighted_median", twin=_global_cumsum)
def test_a17_window_over_reduced_catalog(plan):
    """a17: the cumulative-weight windows must run over the (flag, price)
    pre-aggregation, never the raw fact rows — every Window is fed by an
    aggregate and carries the flag in its partition spec."""
    assert _windows_by(plan, "l_returnflag")
    assert all(_feed(w.children[0]).op in AGGS for w in nodes(plan, "Window"))


@guard("olap12_snapshot_diff", twin="sql3_shipping_priority")
def test_olap12_single_full_outer_no_cartesian(plan):
    """olap12: the diff is ONE full-outer equi-join of two aggregates."""
    diff = _one(joins(plan))
    assert diff.join_type == "FullOuter" and diff.keys


@guard("pipe11_token_budget_select", twin=_global_cumsum)
def test_pipe11_no_unpartitioned_corpus_window(plan):
    """pipe11: the budget cumsum is olap9's two-phase distributed prefix-sum,
    never a global (score DESC) sort through one reducer."""
    assert not _global_windows_over_rows(plan)
    assert nodes(plan, "Window")


@guard("tx15_cross_source_contamination", twin=NO_BROADCAST)
def test_tx15_postings_are_hashed_and_distinct_before_join(plan):
    """tx15: the contamination self-join must consume per-source DISTINCT
    xxhash64 postings (no shingle strings cross the pair-join exchange) and
    both grid/ledger joins broadcast."""
    assert len(nodes(plan, "BroadcastHashJoin", "BroadcastNestedLoopJoin")) >= 2
    assert any("xxhash64" in e for p in nodes(plan, "Project") for e in p.exprs)


@guard("j11_interval_overlap_join", twin="sim2_embedding_neardup_pairs")
def test_j11_grid_join_no_nested_loop(plan):
    """j11: the keyless interval-overlap join must execute as an equi join
    on the grid cell after the explode — a nested-loop/cartesian node means
    the binning failed and the plan is the n² join."""
    assert not nodes(plan, *PAIR_JOINS)
    assert joins(plan, keyed_on="cell") and nodes(plan, "Generate")


def _tx9_big_path(spark, sf_dir):
    docs = spark.table("documents")
    small, big = (boilerplate_share_report(docs, b) for b in (False, True))
    # both strategies are row-identical on the fixture
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))
    return big


@guard(_tx9_big_path, twin=lambda spark, sf_dir: boilerplate_share_report(
    spark.table("documents"), False))
def test_tx9_strategies_identical_and_big_path_joins(plan):
    """tx9's two DF strategies (window vs pre-aggregated-DF join) must be
    row-identical on the fixture, and the big-corpus path must join on the
    shingle (the AQE-skew-splittable shape) with no window over postings."""
    assert not nodes(plan, "Window")


def test_tx9_count_gate_picks_the_df_join_arm(spark, sf_dir, monkeypatch):
    """tx9's corpus count alone picks its arm: the fixture corpus plans the
    postings window, and with ``BOILERPLATE_DF_JOIN_DOCS`` at 0 the same
    registered query plans the DF join on the shingle instead."""
    from trafficanalysisbigdata_spark.plans import queries_text

    window = _plan("tx9_boilerplate_share", spark, sf_dir)
    assert nodes(window, "Window") and not joins(window, keyed_on="shingle")
    monkeypatch.setattr(queries_text, "BOILERPLATE_DF_JOIN_DOCS", 0)
    joined = _plan("tx9_boilerplate_share", spark, sf_dir)
    assert joins(joined, keyed_on="shingle") and not nodes(joined, "Window")


@guard("tx16_winnowing_fingerprints", twin="dd11_cdc_chunk_dedup")
def test_tx16_winnow_is_codegen_window_not_lambda(plan):
    """tx16: winnowing is ONE posexplode (r14: it was replicated into three
    branches) hashing md5 grams INSIDE the generator — md5 in a Filter means
    pushdown re-inlined the hashing, 3× per row — then the doc_id sliding
    window-min and the per-hash doc count over aggregated (source, fph) rows."""
    gens = [g for g in nodes(plan, "Generate") if g.exprs[0].startswith("posexplode")]
    assert len(gens) == 1 and "md5" in gens[0].exprs[0], gens
    assert not [f for f in nodes(plan, "Filter") if "md5" in f.exprs[0]]
    windows = {w.keys: w.exprs[0] for w in nodes(plan, "Window")}
    assert set(windows) == {("doc_id",), ("fph",)}
    assert "specifiedwindowframe(RowFrame, currentrow$()" in windows[("doc_id",)]


def _old_pipe14_split_join(spark, sf_dir):
    """pipe14's old shape: shingle postings joined to a doc_id-keyed split frame."""
    docs = spark.table("documents").select("doc_id", "source", "text")
    split = docs.select("doc_id", (hash_frac(F.col("doc_id")) < 0.9).alias("is_train"))
    return doc_shingle_sets(docs).join(split, "doc_id")


@guard("pipe14_containment_leak_scan", twin=_old_pipe14_split_join)
def test_pipe14_no_cartesian_and_pair_state_is_aggregated(plan):
    """pipe14: is_train is the hash_frac(doc_id) EXPRESSION, never a join (the
    old split attach put a doc_id join in all 6 shingle subtrees; the source
    attach keys on the renamed ``e``). The only pair state is the partial+final
    (e, t) count fed by one token equi-join; no cartesian."""
    assert not joins(plan, keyed_on="doc_id")
    pair_aggs = [a for a in nodes(plan, "HashAggregate") if a.keys == ("e", "t")]
    assert {a.exprs for a in pair_aggs} == {("partial_count(1)",), ("count(1)",)}
    assert not nodes(plan, "CartesianProduct")


@guard("dd10_dup_span_scrub", twin="dd7_duplicate_spans")
def test_dd10_scrub_is_anti_join_not_pair_shaped(plan):
    """dd10: the scrub is a LEFT ANTI equi join of token postings against
    covered positions over dd7's long-keyed postings, no stage holds doc x
    doc state, and the rebuild's collect_list aggregates per doc_id."""
    assert joins(plan, how="LeftAnti")
    assert not nodes(plan, *PAIR_JOINS)
    assert any(e.startswith("collect_list") for a in nodes(plan, *AGGS) for e in a.exprs)


@guard("tx17_heaps_vocab_growth", twin=_global_cumsum)
def test_tx17_windows_partition_by_source(plan):
    """tx17: both running sums ride ONE window partitioned by source — not one
    task for the corpus, not a second window paying its own exchange+sort."""
    assert _one(nodes(plan, "Window")).keys == ("source",)


@guard("tx18_bm25_topk", twin=NO_TOPK)
def test_tx18_is_take_ordered_with_filtered_postings(plan):
    """tx18: the ranking compiles to TakeOrderedAndProject (never a global
    sort), and the term IN-list filter sits directly ON every token explode,
    so non-query tokens never reach a shuffle or aggregate."""
    assert nodes(plan, "TakeOrderedAndProject")
    assert not nodes(plan, "CartesianProduct")
    gens = nodes(plan, "Generate")
    gated = [c for f in nodes(plan, "Filter") for c in f.children
             if c.op == "Generate" and ("IN (" in f.exprs[0] or "INSET" in f.exprs[0])]
    assert gens and len(gated) == len(gens)


@guard("pipe15_stratified_eval_sample", twin=NO_GROUP_LIMIT)
def test_pipe15_rank_filter_compiles_to_group_limit(plan):
    """pipe15: rank() <= k compiles to WindowGroupLimit Partial+Final (map
    tasks keep only their own per-stratum top-k before the exchange) — the
    full per-stratum window funnels each stratum through one task."""
    assert _group_limits(plan) == {"Partial", "Final"}


@guard("pipe16_semantic_decontaminate", twin=NO_BROADCAST)
def test_pipe16_is_broadcast_only_with_group_limits(plan):
    """pipe16: the eval side is benchmark-sized by contract, so EVERY join
    broadcasts (a shuffled join would move the train corpus) and both top-k
    selections keep a map-side WindowGroupLimit."""
    assert not nodes(plan, "SortMergeJoin", "CartesianProduct", "ShuffledHashJoin")
    assert len(nodes(plan, "BroadcastNestedLoopJoin")) == 1
    assert nodes(plan, "BroadcastHashJoin")
    assert _group_limits(plan) == {"Partial", "Final"}


@guard("tx19_hybrid_rrf_fusion", twin=NO_TOPK)
def test_tx19_fusion_inputs_are_rank_bounded(plan):
    """tx19: fusion state is ≤ 2×50 rows BY CONSTRUCTION — lexical top-50 via
    TakeOrderedAndProject, semantic top-50 via a map-side WindowGroupLimit,
    fused top-20 via TakeOrderedAndProject; no global window reads the corpus."""
    assert {t.limit for t in nodes(plan, "TakeOrderedAndProject")} == {20, 50}
    assert not nodes(plan, "CartesianProduct")
    assert "Partial" in _group_limits(plan)
    assert nodes(plan, "Window") and not _global_windows_over_rows(plan)


@guard("tx17b_heaps_vocab_decimated", twin=_global_cumsum)
def test_tx17b_no_unpartitioned_window(plan):
    """tx17b (the tx17 decimation dial): the local cumsums ride windows by
    (source, range-bucket) and the offset ledger by source, so no task sorts
    more than one source-bucket or one source's ledger."""
    assert _windows_by(plan, "source")


@guard("sim10_mmr_diversified_topk", twin=NO_BROADCAST)
def test_sim10_single_shortlist_scan_feeds_pandas_greedy(plan):
    """sim10: the MMR matrix comes from ONE broadcast shortlist (group-limited
    before its exchange) plus ONE broadcast vector fetch — no corpus rescan —
    and the only Python stage is the per-probe greedy over the pair grid."""
    assert not nodes(plan, "CartesianProduct", "SortMergeJoin")
    assert len(nodes(plan, "BroadcastNestedLoopJoin")) == 1
    assert len(nodes(plan, "BroadcastHashJoin")) == 1
    assert len(nodes(plan, "FlatMapGroupsInPandas")) == 1
    assert len(_scans(plan)) == 3  # shortlist + vectors + probes
    assert _group_limits(plan) == {"Partial", "Final"}


def _token_exchange(plan: Node) -> list[Node]:
    return [e for e in exchanges(plan) if e.keys[:1] == ("doc_id",)]


@guard("dd11_cdc_chunk_dedup", twin="dd7_duplicate_spans")
def test_dd11_single_doc_exchange_no_joins(plan):
    """dd11: join-free (a hot chunk is a partial-aggregated COUNT, never a join
    fan-out), and ONE doc-keyed exchange of token rows serves both the
    boundary-cumsum window and the (doc, chunk) rebuild."""
    assert not joins(plan)
    assert len(_token_exchange(plan)) == 1
    assert any(g.exprs[0].startswith("posexplode") for g in nodes(plan, "Generate"))
    assert _windows_by(plan, "doc_id")


@guard("pipe17_weighted_sample", "pipe17b_quality_weighted_sample",
       twin=NO_GROUP_LIMIT)
def test_pipe17_weighted_rank_compiles_to_group_limit(plan):
    """pipe17/pipe17b (pipe15's shape over the A-ES key): rank() <= k is a
    Partial+Final WindowGroupLimit, and the key (pipe17b's weight too) is a
    row-local expression, never a join."""
    assert _group_limits(plan) == {"Partial", "Final"}
    assert not joins(plan)


@guard("dd11b_cdc_guarded_chunks", twin="dd11_cdc_chunk_dedup")
def test_dd11b_pandas_guard_single_doc_exchange_no_joins(plan):
    """dd11b: the min/max guard is ONE batch-amortized MapInPandas (a per-doc
    FlatMapGroupsInPandas measured 9x slower) over one doc-keyed exchange of
    token rows, their md5 boundary flag computed in a JVM Project below it."""
    assert len(nodes(plan, "MapInPandas")) == 1
    assert not nodes(plan, "FlatMapGroupsInPandas")
    assert not joins(plan)
    assert len(_token_exchange(plan)) == 1
    assert any(g.exprs[0].startswith("posexplode") for g in nodes(plan, "Generate"))
    assert any("conv(substring(md5(" in e and "% 16" in e
               for p in nodes(plan, "Project") for e in p.exprs)


_DEFS = {
    f.name: f
    for f in ast.parse(pathlib.Path(__file__).read_text()).body
    if isinstance(f, ast.FunctionDef)
}
_ASSERTING = {
    name for name, f in _DEFS.items() if any(isinstance(n, ast.Assert) for n in ast.walk(f))
}


def _leading_check(body: list[ast.stmt]) -> ast.stmt:
    """The statement of a guard body that a twin must trip: its first
    ``assert``, or an earlier statement that delegates to an asserting
    helper of this module (``_one``)."""
    for stmt in body:
        if isinstance(stmt, ast.Assert) or any(
            isinstance(n, ast.Call) and getattr(n.func, "id", None) in _ASSERTING
            for n in ast.walk(stmt)
        ):
            return stmt
    raise AssertionError("guard has no check")


@pytest.mark.parametrize("name", sorted(TWINS))
def test_twin_is_rejected(spark, sf_dir, name):
    """The twin fails the guard, and on the guard's LEADING check: a twin
    that only trips a later assertion would leave the first one untested."""
    check, twin = TWINS[name]
    with pytest.raises(AssertionError) as exc:
        check(_plan(twin, spark, sf_dir))
    tb, lines = exc.tb, []
    while tb is not None:
        if tb.tb_frame.f_code is check.__code__:
            lines.append(tb.tb_lineno)
        tb = tb.tb_next
    lead = _leading_check(_DEFS[name].body)
    assert [lead.lineno <= ln <= lead.end_lineno for ln in lines] == [True], (lines, lead.lineno)
