"""Tests for the PlanCost estimator — hand-computed expectations for
the reference's selectivity/cardinality rules (PlanCost.java) plus an
end-to-end EXPLAIN COST through the engine facade."""

from __future__ import annotations

import math

from kaj_query_engine_spark.dialect.parser import parse
from kaj_query_engine_spark.engine import KajEngine
from kaj_query_engine_spark.plans.cost import (
    CostEstimate,
    PlanCost,
    TableStats,
    collect_stats,
    explain_cost,
)

STATS = {
    "customer": TableStats(
        num_rows=1000, distinct={"cid": 1000, "segment": 10}, num_cols=4
    ),
    "orders": TableStats(
        num_rows=5000, distinct={"cid": 500, "okey": 5000}, num_cols=4
    ),
}


def _est(q: str, join_type: str = "broadcast") -> CostEstimate:
    return PlanCost(STATS, join_type).estimate(parse(q))


def test_equality_selectivity_is_one_over_v():
    est = _est(
        'SELECT customer.cid FROM customer WHERE customer.segment="A"'
    )
    assert est.rows == math.ceil(1000 / 10)


def test_range_selectivity_is_half():
    est = _est('SELECT customer.cid FROM customer WHERE customer.cid>"5"')
    assert est.rows == 500


def test_join_cardinality_divides_by_max_distinct():
    est = _est(
        "SELECT customer.cid FROM customer,orders "
        "WHERE customer.cid=orders.cid"
    )
    # |L|*|R| / max(V_l, V_r) = 1000*5000/1000
    assert est.rows == 5000
    assert est.pages_io > 0


def test_selection_scales_join_output():
    est = _est(
        "SELECT customer.cid FROM customer,orders "
        'WHERE customer.cid=orders.cid,customer.segment="A"'
    )
    # selection: 1000/10 = 100 rows, V(cid) clamps to 100
    # join: 100*5000/max(100,500) = 1000
    assert est.rows == 1000


def test_join_formulas_match_reference():
    pc = PlanCost(STATS, "nested")
    assert pc._join_pages(10, 20) == 10 + 10 * 20
    pc.join_type = "blocknested"
    assert pc._join_pages(10, 20) == 10 + math.ceil(10 / 8) * 20
    pc.join_type = "broadcast"
    assert pc._join_pages(10, 20) == 20 + 2 * 10
    pc.join_type = "shufflehash"
    assert pc._join_pages(10, 20) == 3 * 30


def test_explain_cost_renders_plan_and_cost():
    out = explain_cost(
        parse(
            "SELECT customer.cid FROM customer,orders "
            "WHERE customer.cid=orders.cid"
        ),
        STATS,
    )
    assert "Execution Plan" in out
    assert "Expected cost:" in out
    assert "Join(" in out and "Scan(customer)" in out


def test_engine_explain_cost_end_to_end(spark, ref_tables):
    eng = KajEngine(spark)
    for name, (df, _rows, _cols) in ref_tables.items():
        eng.register(name, df)
    out = eng.explain_cost(
        "SELECT customer_ref.cid FROM customer_ref "
        'WHERE customer_ref.gender="1"'
    )
    assert "Expected cost:" in out
    # stats are cached: second call must not rescan (same object)
    assert "customer_ref" in eng._stats_cache


def test_explain_cost_sees_reregistered_table(spark):
    """Re-registering a name drops its cached stats: the cost is priced
    with the new table's row count, not the old one's."""
    eng = KajEngine(spark)
    q = "SELECT t.a FROM t"
    eng.register("t", spark.createDataFrame([(i,) for i in range(10)], "a long"))
    assert "Scan(t): 10 rows" in eng.explain_cost(q)
    eng.register("t", spark.createDataFrame([(i,) for i in range(30)], "a long"))
    out = eng.explain_cost(q)
    assert "Scan(t): 30 rows" in out and "~30 rows" in out


def test_collect_stats_counts(spark):
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "a long, b long"
    )
    st = collect_stats(df)
    assert st.num_rows == 30
    assert st.num_cols == 2
    # HLL++ is exact at tiny cardinalities
    assert st.distinct["b"] == 3


def test_strict_compat_reproduces_reference_selectivity_bug():
    """PlanCost.java:204-209 computes the uniform rescale
    ``newvalue = ceil(out/in * oldvalue)`` and then puts OUTTUPLES
    into the distinct-value table instead — every attribute's V(A)
    becomes the selection's output row count, RAISING V for
    low-cardinality columns. strict_compat pins that bit-faithfully;
    the default keeps the corrected can-only-shrink propagation."""
    q = (
        "SELECT customer.cid FROM customer,orders "
        'WHERE customer.segment="A",customer.cid=orders.cid'
    )
    # selection first: 1000/10 = 100 rows survive
    fixed = PlanCost(STATS).estimate(parse(q))
    buggy = PlanCost(STATS, strict_compat=True).estimate(parse(q))
    # corrected: V(cid) = min(1000, 100) = 100 -> join 100*5000/500
    # (orders side V wins the max) ... max(V_l=100, V_r=500) = 500
    assert fixed.rows == math.ceil(100 * 5000 / 500)
    # buggy: EVERY customer attribute's V becomes 100 (same here for
    # cid, but segment's V=10 is also clobbered UP to 100) — observable
    # through a second selection on segment giving 1/100 selectivity
    q2 = (
        "SELECT customer.cid FROM customer "
        'WHERE customer.segment="A",customer.segment="B"'
    )
    fixed2 = PlanCost(STATS).estimate(parse(q2))
    buggy2 = PlanCost(STATS, strict_compat=True).estimate(parse(q2))
    # corrected: second segment= filter sees V=min(10,100)=10 -> 100/10
    assert fixed2.rows == 10
    # reference bug: V(segment) was clobbered to 100 -> 100/100 = 1
    assert buggy2.rows == 1
    assert buggy.rows == fixed.rows  # same here: V(cid) ties at 100

    # the flag reaches the rendered display too
    out = explain_cost(parse(q2), STATS, strict_compat=True)
    assert "~1 rows" in out
