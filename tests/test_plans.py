"""Physical-plan contracts — the properties that make these queries survive
a 100× scale-up (SURVEY.md §4): pushdown, pruning, broadcast, partial agg,
minimal exchanges, no Python in relational hot paths."""

from __future__ import annotations

import re

import pytest

from flink_uba_spark.queries import datapipe, tpch, uba


def plan_of(spark, sf_dir, fn) -> str:
    df = fn(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def count_nodes(plan: str, name: str) -> int:
    """Count distinct plan nodes (formatted explain repeats names in the
    detail section)."""
    return len(re.findall(rf"^\(\d+\) {name}", plan, re.M))


def test_q6_filter_pushdown_and_pruning(spark, sf_dir):
    p = plan_of(spark, sf_dir, tpch.tpch_q6_forecast_revenue)
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate", p)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_q6_partial_aggregation(spark, sf_dir):
    p = plan_of(spark, sf_dir, tpch.tpch_q6_forecast_revenue)
    assert "partial_sum" in p  # map-side combine before the exchange


def hint_count(spark, sf_dir, fn) -> int:
    """Forced-broadcast hints surviving analysis (ResolvedHint nodes)."""
    df = fn(spark, sf_dir)
    return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")


def test_broadcast_reserved_for_true_dimensions(spark, sf_dir):
    """ADVICE r1: F.broadcast only on region/nation/supplier/part (bounded
    or ~1000× smaller than facts). orders/customer strategy is left to
    Catalyst/AQE stats — a forced fact-side broadcast OOMs at real SF even
    though it passes at sf0.01."""
    expected = {
        tpch.tpch_q3_shipping_priority: 0,   # orders⋈customer: AQE decides
        tpch.tpch_q5_local_supplier: 3,      # region, nation-dims, supplier
        tpch.tpch_q10_returned_items: 1,     # nation
        tpch.tpch_q7_volume_shipping: 3,     # supplier, n1, n2
        tpch.tpch_q18_large_orders: 0,
        tpch.tpch_q14_promo_effect: 1,       # part
        tpch.tpch_q12_ship_priority_classes: 0,  # fact-fact: AQE decides
        tpch.tpch_q21_waiting_suppliers: 1,  # nation
        tpch.revenue_rollup: 1,              # nation
    }
    for fn, n in expected.items():
        assert hint_count(spark, sf_dir, fn) == n, fn.__name__


def test_q5_dimension_joins_are_broadcast(spark, sf_dir):
    """The hinted dimension joins stay BHJ at any SF; at test SF Catalyst
    also broadcasts the small fact sides, so BHJ >= 3 (the hinted ones)."""
    p = plan_of(spark, sf_dir, tpch.tpch_q5_local_supplier)
    assert count_nodes(p, "BroadcastHashJoin") >= 3


def test_hot_items_two_exchange_topology(spark, sf_dir):
    """The reference's two keyBy shuffles (HotItem.java:58,66 — J5) must be
    exactly two exchanges: hash(window,item) for the agg, hash(window) for
    the rank. More would mean a redundant shuffle at 100 TB."""
    p = plan_of(spark, sf_dir, uba.hot_items)
    assert count_nodes(p, "Exchange") == 2
    assert "partial_count" in p or "partial_" in p  # incremental pre-agg (W3)


def test_relational_queries_have_no_python(spark, sf_dir):
    """U1: business logic stays JVM-side; Python appears only in the
    explicitly-stateful/multimodal operators."""
    for fn in (uba.hot_items, uba.order_timeout_states, uba.tx_reconcile_full_outer,
               datapipe.dedup_minhash_lsh, datapipe.text_quality_score,
               datapipe.embedding_cosine_topk):
        p = plan_of(spark, sf_dir, fn)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, fn.__name__


def test_topk_uses_take_ordered(spark, sf_dir):
    p = plan_of(spark, sf_dir, tpch.tpch_q3_shipping_priority)
    assert "TakeOrderedAndProject" in p  # T4: sort+limit fused
    assert "SortMergeJoin" not in p  # at this SF Catalyst picks hash joins


def test_round2_additions_plan_contracts(spark, sf_dir):
    """Plan pins for the round-2 catalog additions."""
    from flink_uba_spark.queries import datapipe as dp

    # q8: all five dimension attachments broadcast-hinted; fact joins AQE's
    assert hint_count(spark, sf_dir, tpch.tpch_q8_market_share) == 5
    # q19: single broadcast of the pre-pruned part side, one agg exchange
    assert hint_count(spark, sf_dir, tpch.tpch_q19_brand_bands) == 1
    p19 = plan_of(spark, sf_dir, tpch.tpch_q19_brand_bands)
    assert count_nodes(p19, "Exchange") == 1 and "partial_sum" in p19
    # q13: custkey count + histogram = exactly two exchanges, partial aggs
    p13 = plan_of(spark, sf_dir, tpch.tpch_q13_customer_distribution)
    assert count_nodes(p13, "Exchange") == 2 and "partial_count" in p13
    # percentiles: rank window and final agg share ONE priority exchange
    pp = plan_of(spark, sf_dir, tpch.order_value_percentiles)
    assert count_nodes(pp, "Exchange") == 1
    # hash split: pure per-row expression — zero exchanges, no UDF
    ps = plan_of(spark, sf_dir, dp.doc_train_test_split)
    assert count_nodes(ps, "Exchange") == 0
    assert "pythonUDF" not in ps and "BatchEvalPython" not in ps


def test_classifier_quality_filter_single_scan_broadcast_weights(spark, sf_dir):
    """Round-4 shape lock: one corpus scan, broadcast weight dim, one
    shuffle (the doc_id rollup) — no join-back second scan."""
    from flink_uba_spark.queries import datapipe

    p = plan_of(spark, sf_dir, datapipe.classifier_quality_filter)
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1
    assert "BroadcastHashJoin" in p
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1


def test_events_profile_single_pass_expand(spark, sf_dir):
    """Multi-distinct profiling runs as ONE scan with the Expand-based
    two-level aggregate — not one job per column."""
    from flink_uba_spark.queries import datapipe

    p = plan_of(spark, sf_dir, datapipe.events_profile)
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1
    assert "Expand" in p


def test_strict_pattern_single_exchange_single_lead_window(spark, sf_dir):
    """next() compiles to ONE key exchange and ONE window whose binder is
    a single lead() — strict contiguity must not add sorts-of-sorts or a
    second shuffle (round 6)."""
    from flink_uba_spark.queries import behavior

    p = plan_of(spark, sf_dir, behavior.pattern_impulse_purchase)
    assert count_nodes(p, "Exchange") == 1
    assert count_nodes(p, "Window") == 1
    assert p.count("lead(") >= 1


def test_uncapped_kleene_has_no_lead_probe(spark, sf_dir):
    """Uncapped oneOrMore removes the lead(cap-1) probe entirely — the
    run is the session, computed by running aggregates only (round 6)."""
    from flink_uba_spark.queries import behavior

    p = plan_of(spark, sf_dir, behavior.pattern_uncapped_error_run)
    assert "lead(" not in p
    # same exchange budget as the capped Kleene family: the key exchange
    # plus the session-id join-back
    assert count_nodes(p, "Exchange") <= 3


def test_iterative_compile_legs_push_predicates_to_scan(spark, sf_dir):
    """The IterativeCondition join compile re-reads the source once per
    leg BY DESIGN: measured against a persist()ed shared-candidates
    variant (round 8, SCALE.md), the pruned+pushed re-scan ties at 10×
    scale and wins at small scale with no cache residency — so the
    winning plan is pinned: one FileScan per leg, each carrying its
    step predicate as a pushed data filter (never a full-table read),
    plus the min_by partial aggregation after every band join."""
    from flink_uba_spark.queries import behavior

    p = plan_of(spark, sf_dir, behavior.pattern_iterative_price_escalation)
    assert count_nodes(p, "Scan parquet") == 3   # one per leg, no cache
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert len(pushed) == 3
    assert all("event_type" in ln for ln in pushed)  # never a full read
    assert "InMemoryTableScan" not in p
    # band joins collapse immediately: partial min_by before each shuffle
    assert "min_by" in p


def test_subset_agg_reads_the_match_set_once(spark, sf_dir):
    """Run aggregates attach through ONE band join of the matches to the
    member rows and aggregate with no join back: every extra reference to
    the match set would re-run the pattern_detect window chain and the
    skip fold (AQE reuses identical Exchanges, not the Python stage above
    them)."""
    from flink_uba_spark.queries import rowpattern

    p = plan_of(spark, sf_dir, rowpattern.match_recognize_subset_agg)
    assert count_nodes(p, "Exchange") <= 4
    assert count_nodes(p, "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)") == 1
    assert count_nodes(p, "MapInArrow") == 1  # the skip fold, once


@pytest.mark.parametrize(
    "name",
    [
        "match_recognize_subset_agg",
        "match_recognize_alternation",
        "match_recognize_permute",
        "match_recognize_skip_to_first",
        "match_recognize_iterative",
        "match_recognize_trailing_run",
        "match_recognize_within_overall",
        "match_recognize_mid_run_within_skip",
    ],
)
def test_after_match_folds_are_arrow_kernels(spark, sf_dir, name):
    """The SKIP PAST LAST and SKIP TO folds run as one mapInArrow kernel
    over the key-partitioned, sorted match set — no grouped pandas stage."""
    from flink_uba_spark.queries import rowpattern

    p = plan_of(spark, sf_dir, getattr(rowpattern, name))
    assert count_nodes(p, "MapInArrow") == 1
    assert "FlatMapGroupsInPandas" not in p
