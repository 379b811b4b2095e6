"""The key-overlap pair-join kernel (operators/overlap.py) against a Python
brute force on tiny frames, plus the exchange reuse its docstring claims."""

from __future__ import annotations

from collections import Counter
from itertools import combinations

from libchunk_spark.operators.overlap import (
    df_capped,
    key_pairs,
    shared_counts,
    with_sizes,
)
from plan_nodes import exchange_kinds

CAP = 3
# key "k3" is held by exactly CAP ids (kept), "k4" by CAP + 1 (dropped)
ROWS = [
    (1, "k3"), (2, "k3"), (3, "k3"),
    (1, "k4"), (2, "k4"), (3, "k4"), (4, "k4"),
    (1, "x"), (2, "x"),
    (2, "y"), (4, "y"),
    (5, "z"),
]
# two-column key: ("p", 1) and ("p", 2) are different keys
ROWS2 = [
    (1, "p", 1), (2, "p", 1),
    (2, "p", 2), (3, "p", 2),
    (1, "q", 1), (3, "q", 1), (4, "q", 1), (5, "q", 1),
]


def _capped(rows, cap):
    df = Counter(r[1:] for r in rows)
    return [r for r in rows if df[r[1:]] <= cap]


def _brute_shared(rows):
    by_key: dict[tuple, set] = {}
    for r in rows:
        by_key.setdefault(r[1:], set()).add(r[0])
    shared: Counter = Counter()
    for ids in by_key.values():
        for a, b in combinations(sorted(ids), 2):
            shared[(a, b)] += 1
    return dict(shared)


def _frame(spark):
    return spark.createDataFrame(ROWS, "id long, k string")


def test_df_capped_keeps_cap_and_drops_cap_plus_one(spark):
    got = sorted(tuple(r) for r in df_capped(_frame(spark), "k", CAP).collect())
    assert got == sorted(_capped(ROWS, CAP))
    keys = {r[1] for r in got}
    assert "k3" in keys and "k4" not in keys


def test_shared_counts_and_key_pairs_match_brute_force(spark):
    capped = df_capped(_frame(spark), "k", CAP)
    expect = _brute_shared(_capped(ROWS, CAP))
    got = {(r["a"], r["b"]): r["shared"] for r in shared_counts(capped, "id", "k").collect()}
    assert got == expect
    pairs = sorted(tuple(r) for r in key_pairs(capped, "id", "k").collect())
    assert pairs == sorted(expect)


def test_two_column_key(spark):
    df = spark.createDataFrame(ROWS2, "id long, k1 string, k2 long")
    capped = df_capped(df, ["k1", "k2"], CAP)
    assert sorted(tuple(r) for r in capped.collect()) == sorted(_capped(ROWS2, CAP))
    expect = _brute_shared(_capped(ROWS2, CAP))
    got = {
        (r["a"], r["b"]): r["shared"]
        for r in shared_counts(capped, "id", ["k1", "k2"]).collect()
    }
    assert got == expect == {(1, 2): 1, (2, 3): 1}
    pairs = key_pairs(capped, "id", ["k1", "k2"]).collect()
    assert sorted(tuple(r) for r in pairs) == sorted(expect)


def test_with_sizes(spark):
    df = _frame(spark)
    sizes = df.groupBy("id").count().withColumnRenamed("count", "sz")
    got = {
        tuple(r)
        for r in with_sizes(shared_counts(df, "id", "k"), sizes)
        .select("a", "b", "shared", "na", "nb")
        .collect()
    }
    n = Counter(r[0] for r in ROWS)
    expect = {(a, b, s, n[a], n[b]) for (a, b), s in _brute_shared(ROWS).items()}
    assert got == expect


def _final_plan(spark, build):
    """Final adaptive plan of build() with broadcast off (the at-scale join
    shape); AQE applies exchange reuse at execution, so it collects first."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = build()
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "isFinalPlan=true" in plan, plan
    return plan.split("== Initial Plan ==")[0]


def test_capped_self_join_exchanges_the_key_once(spark):
    """df_capped → shared_counts exchanges the rows on the key ONCE: the
    cap's window and the other self-join side read that exchange back
    (ReusedExchange); the only other exchange is the (a, b) aggregation.
    A groupBy + join cap would add a second key exchange and reuse both."""
    rows = [(i, f"k{j}") for i in range(40) for j in range(i % 7, i % 7 + 5)]
    df = spark.createDataFrame(rows, "id long, k string")
    plan = _final_plan(spark, lambda: shared_counts(df_capped(df, "k", 10), "id", "k"))
    kinds = exchange_kinds(plan)
    assert kinds == Counter({"Exchange hashpartitioning": 2, "ReusedExchange": 1}), plan
    reused = [ln for ln in plan.splitlines() if "ReusedExchange" in ln]
    assert "Exchange hashpartitioning(k#" in reused[0], plan
