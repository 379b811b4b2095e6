"""The key-overlap pair-join kernels (operators/overlap.py) against a Python
brute force on tiny frames, plus the exchange reuse their docstring claims."""

from __future__ import annotations

import dataclasses
from collections import Counter
from itertools import combinations

import numpy as np
from pyspark.sql import Observation

from libchunk_spark.config import CORPUS_PIPELINE_CONFIG
from libchunk_spark.operators.lsh import simhash_candidate_edges
from libchunk_spark.operators.overlap import (
    capped_star_pairs,
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


# (id, band, h) rows for capped_star_pairs with cap CAP: key (0, 1) is held
# by exactly CAP ids (all pairs), (0, 2) by CAP + 1 (star from 4), (1, 2) by
# CAP + 2 (star from 2); (1, 3) repeats the star edge (4, 5) as a small-key
# pair and (1, 4) is a single-row key
STAR_ROWS = [
    (1, 0, 1), (2, 0, 1), (3, 0, 1),
    (4, 0, 2), (5, 0, 2), (6, 0, 2), (7, 0, 2),
    (9, 1, 2), (8, 1, 2), (5, 1, 2), (6, 1, 2), (2, 1, 2),
    (4, 1, 3), (5, 1, 3),
    (3, 1, 4),
]


def _carry(i):
    return f"c{i}"


def _brute_star(rows, cap):
    by_key: dict[tuple, set] = {}
    for r in rows:
        by_key.setdefault(r[1:], set()).add(r[0])
    out = set()
    for ids in by_key.values():
        ids = sorted(ids)
        if len(ids) <= cap:
            out |= set(combinations(ids, 2))
        else:
            out |= {(ids[0], b) for b in ids[1:]}
    return {(a, b, _carry(a), _carry(b)) for a, b in out}


def _star_frame(spark):
    return spark.createDataFrame(
        [(i, band, h, _carry(i)) for i, band, h in STAR_ROWS],
        "id long, band int, h long, c string",
    )


def test_capped_star_pairs_matches_brute_force(spark):
    got = [
        tuple(r)
        for r in capped_star_pairs(
            _star_frame(spark), "id", ["band", "h"], "c", CAP
        ).collect()
    ]
    assert len(got) == len(set(got))  # the union is deduplicated
    assert set(got) == _brute_star(STAR_ROWS, CAP)
    pairs = {(a, b) for a, b, _, _ in got}
    assert {(1, 2), (1, 3), (2, 3)} <= pairs  # at the cap: every pair
    assert {(4, 5), (4, 6), (4, 7)} <= pairs  # cap + 1: star through min id
    assert not {(5, 6), (5, 7), (6, 7)} & pairs
    assert all(a < b for a, b in pairs)


def test_capped_star_pairs_observes_oversized_keys(spark):
    obs = Observation("capped_star")
    capped_star_pairs(
        _star_frame(spark), "id", ["band", "h"], "c", CAP, observation=obs
    ).collect()
    # keys (0, 2) and (1, 2): CAP + 1 and CAP + 2 rows
    assert obs.get == {"oversized_rows": 2 * CAP + 3, "oversized_blocks": 2}


def test_simhash_edges_exchange_the_block_key_once(spark):
    """The SimHash path sizes its blocks with the kernel's window count:
    the pre-execution plan has at most 5 hash exchanges (a groupBy + join
    sizing plans 9)."""
    cfg = dataclasses.replace(CORPUS_PIPELINE_CONFIG, bucket_pair_cap=16)
    rng = np.random.default_rng(5)
    vals = rng.integers(-(1 << 63), (1 << 63) - 1, size=300, dtype=np.int64)
    same = 0x0123456789ABCDEF
    rows = [(i, int(v)) for i, v in enumerate(vals)]
    rows += [(300 + i, same) for i in range(50)]
    sigs = spark.createDataFrame(rows, "file_id long, simhash long")
    edges = simhash_candidate_edges(sigs, cfg)
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert exchange_kinds(plan)["Exchange hashpartitioning"] <= 5, plan
    # the 50 identical simhashes overflow every block: one star from 300
    got = {tuple(r) for r in edges.collect()}
    assert got == {(300, 300 + i) for i in range(1, 50)}
