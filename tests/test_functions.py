"""Unit tests for the expression surface: scalar function registry,
expr/sql operators, pivot, rollup/cube, set ops."""

from __future__ import annotations

import datetime

import pytest

from blackroad_data_pipeline_spark.functions import SCALAR_FUNCTIONS, resolve
from blackroad_data_pipeline_spark.operators import apply_operator as op


@pytest.fixture()
def sales(spark):
    return spark.createDataFrame(
        [("a", "x", 1.0, datetime.datetime(2024, 3, 5)),
         ("a", "y", 2.0, datetime.datetime(2024, 3, 9)),
         ("b", "x", 4.0, datetime.datetime(2025, 1, 1))],
        ["k", "cat", "amt", "ts"],
    )


def test_map_resolves_scalar_registry(sales):
    out = op("map", sales, {"field": "ts", "operation": "year", "as": "y"})
    assert {r["y"] for r in out.collect()} == {2024, 2025}


def test_map_unknown_function_raises(sales):
    with pytest.raises(ValueError, match="unknown scalar function"):
        op("map", sales, {"field": "k", "operation": "nope"})


def test_scalar_registry_all_resolve():
    for name in SCALAR_FUNCTIONS:
        assert resolve(name) is SCALAR_FUNCTIONS[name]


def test_expr_adds_columns(sales):
    out = op("expr", sales, {"exprs": {"amt2": "amt * 2", "up": "upper(k)"}})
    rows = {(r["k"], r["amt2"], r["up"]) for r in out.collect()}
    assert ("a", 2.0, "A") in rows and ("b", 8.0, "B") in rows


def test_expr_replace_projects(sales):
    out = op("expr", sales, {"replace": True, "exprs": {"n": "length(cat)"}})
    assert out.columns == ["n"]


def test_sql_operator_with_views(spark, sales):
    dims = spark.createDataFrame([("a", "alpha"), ("b", "beta")], ["k", "kname"])
    out = op("sql", sales, {
        "query": "SELECT s.k, d.kname, SUM(s.amt) AS total "
                 "FROM self s JOIN dims d USING (k) GROUP BY s.k, d.kname",
    }, views={"dims": dims})
    got = {tuple(r) for r in out.collect()}
    assert got == {("a", "alpha", 3.0), ("b", "beta", 4.0)}


def test_pivot_explicit_values(sales):
    out = op("pivot", sales, {
        "group_by": ["k"], "pivot": "cat", "values": ["x", "y"],
        "prefix": "amt_", "aggregate": {"field": "amt", "function": "sum"},
    })
    got = {(r["k"], r["amt_x"], r["amt_y"]) for r in out.collect()}
    assert got == {("a", 1.0, 2.0), ("b", 4.0, None)}


def test_rollup_emits_subtotals(sales):
    out = op("aggregate", sales, {
        "grouping": "rollup", "group_by": ["k", "cat"],
        "aggregates": [{"field": "amt", "function": "sum", "alias": "s"}]})
    rows = {(r["k"], r["cat"], r["s"]) for r in out.collect()}
    assert ("a", None, 3.0) in rows          # per-k subtotal
    assert (None, None, 7.0) in rows         # grand total
    assert ("a", "x", 1.0) in rows           # leaf


def test_cube_emits_cross_margins(sales):
    out = op("aggregate", sales, {
        "grouping": "cube", "group_by": ["k", "cat"],
        "aggregates": [{"field": "amt", "function": "sum", "alias": "s"}]})
    rows = {(r["k"], r["cat"], r["s"]) for r in out.collect()}
    assert (None, "x", 5.0) in rows          # cat margin (cube-only)


def test_intersect_and_except(spark):
    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], ["v"])
    b = spark.createDataFrame([(2,), (4,)], ["v"])
    inter = op("intersect", a, {"other": b}, views={})
    assert {r["v"] for r in inter.collect()} == {2}
    ex = op("except", a, {"other": b}, views={})
    assert {r["v"] for r in ex.collect()} == {1, 3}
    ex_all = op("except", a, {"other": b, "all": True}, views={})
    assert sorted(r["v"] for r in ex_all.collect()) == [1, 2, 3]


def test_grouping_sets(sales):
    out = op("aggregate", sales, {
        "grouping": "grouping_sets", "group_by": ["k", "cat"],
        "sets": [["k"], ["cat"]],
        "aggregates": [{"field": "amt", "function": "sum", "alias": "s"}]})
    rows = {(r["k"], r["cat"], r["s"]) for r in out.collect()}
    assert ("a", None, 3.0) in rows and ("b", None, 4.0) in rows
    assert (None, "x", 5.0) in rows and (None, "y", 2.0) in rows
    assert (None, None, 7.0) not in rows  # no grand-total set requested


def test_pivot_bool_values_renamed(spark):
    df = spark.createDataFrame([(1, True, 2.0), (1, False, 3.0)],
                               ["k", "flag", "v"])
    out = op("pivot", df, {"group_by": ["k"], "pivot": "flag",
                           "values": [True, False], "prefix": "v_",
                           "aggregate": {"field": "v", "function": "sum"}})
    # positional rename handles Spark's 'true'/'false' generated names
    assert out.columns == ["k", "v_True", "v_False"]
    r = out.collect()[0]
    assert r["v_True"] == 2.0 and r["v_False"] == 3.0


def test_sql_operator_concurrent_ops_see_their_own_views(spark):
    """Concurrent sql ops on one session register the same view names
    (``self``, ``dims``) in the session catalog; each must resolve its
    own frames, never another op's, and never find its views dropped
    by another op. More threads than cores, with a short switch
    interval so the threads interleave inside each op."""
    import os
    import sys
    from concurrent.futures import ThreadPoolExecutor

    n_threads, n_ops = min(2 * len(os.sched_getaffinity(0)), 16), 15

    def run(k):
        base = spark.createDataFrame([(k,)], "v int")
        dims = spark.createDataFrame([(k, f"d{k}")], "v int, name string")
        return [[tuple(r) for r in op("sql", base, {
            "query": "SELECT v, name FROM self JOIN dims USING (v)"},
            views={"dims": dims}).collect()] for _ in range(n_ops)]

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(n_threads) as pool:
            futures = [pool.submit(run, k) for k in range(n_threads)]
            got = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(prev)
    assert got == [[[(k, f"d{k}")]] * n_ops for k in range(n_threads)]


def test_sql_operator_drops_views_after(spark, sales):
    dims = spark.createDataFrame([("a", "alpha")], ["k", "kname"])
    op("sql", sales, {"query": "SELECT * FROM self"}, views={"dims": dims})
    assert not spark.catalog.tableExists("self")
    assert not spark.catalog.tableExists("dims")
