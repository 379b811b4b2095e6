"""Targeted tests for the round-6 batch-2 analysis queries (oracle parity
itself is covered for every registry entry by test_entry.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from libchunk_spark import queries as Q
from plan_nodes import exchange_kinds


def _canon_sha(spark, texts):
    t = F.split(F.col("text"), " ")
    canon = F.concat_ws(
        " ", F.transform(t, lambda x: F.array_position(t, x).cast("string"))
    )
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id int, text string"
    )
    rows = df.select("doc_id", F.sha2(canon, 256).alias("h")).collect()
    return [r["h"] for r in sorted(rows, key=lambda r: r["doc_id"])]


def test_type2_alpha_renaming_catches_renamed_copies(spark):
    """'a b a c' and 'x y x z' are Type-2 clones (same pattern, renamed
    identifiers); 'a b c a' is structurally different."""
    h = _canon_sha(
        spark,
        [
            "def f x : return x plus y",
            "def g a : return a plus b",  # alpha-renamed copy of doc 0
            "def f x : return y plus x",  # different structure
        ],
    )
    assert h[0] == h[1]
    assert h[0] != h[2]


def test_winnow_fingerprints_plan_is_exchange_free_and_hashes_once(spark):
    """Two plan claims made real: (1) winnowing fingerprint SELECTION
    (per-doc summary query) contains no Exchange — scan + project only,
    so at 10^12 files it scales with input splits and never shuffles;
    (2) the md5 gram hashing appears exactly ONCE — the staged
    projections block CollapseProject from fusing selection back into
    the O(n^2)-md5 single-expression form (operators/winnow.py docstring;
    the fused form measured 145 s vs ~2 s at sf0.01).

    The only Exchange allowed is the scan-parallelism round-robin
    repartition (scan.read_parallel, r8): an input-size-derived map-side
    spread below the selection, NOT a shuffle the winnowing algorithm
    requires — at real input sizes read_parallel adds no exchange at all
    and the plan is scan + project only."""
    df = Q.q_winnow_fingerprints(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    kinds = exchange_kinds(plan)
    assert set(kinds) <= {"Exchange RoundRobinPartitioning"}, (kinds, plan)
    assert "hashpartitioning" not in plan, plan
    assert plan.count("md5") == 1, plan


def test_winnow_pairs_reuses_fingerprint_exchange(spark):
    """At scale neither self-join side broadcasts: with broadcast off
    (the 100 TB join shape) the df-cap window and the two self-join
    sides must reuse ONE exchange over the exploded fingerprints — the
    winnowing projection runs once, not three times. The at-scale plan
    also hashes grams exactly once (same staging as the summary query)."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = Q.q_winnow_pairs(spark, "/root/testdata/sf0.001")
        # AQE defers exchange reuse to execution: only the FINAL adaptive
        # plan shows ReusedExchange nodes
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, plan


def test_approx_distinct_contract_holds_at_sf01(spark):
    rows = Q.q_approx_distinct_users(spark, "/root/testdata/sf0.1").collect()
    assert rows and all(r["approx_ok"] for r in rows)


def _py_canon(tokens: list[str]) -> str:
    """First-occurrence alpha-renaming, the pure-Python mirror of the
    array_position expression."""
    return " ".join(str(tokens.index(t) + 1) for t in tokens)


def test_alpha_renaming_invariance_property():
    """Hypothesis: canonicalization is invariant under ANY injective token
    rename (the defining property of Type-2 clone abstraction)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    vocab = [f"t{i}" for i in range(8)]

    @settings(max_examples=300, deadline=None)
    @given(
        toks=st.lists(st.sampled_from(vocab), min_size=1, max_size=20),
        perm=st.permutations(vocab),
    )
    def run(toks, perm):
        rename = dict(zip(vocab, perm))
        assert _py_canon(toks) == _py_canon([rename[t] for t in toks])

    run()


def test_spark_canon_matches_python_mirror(spark):
    import random

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "x1", "y2"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 15)))
        for _ in range(20)
    ]
    t = F.split(F.col("text"), " ")
    canon = F.concat_ws(
        " ", F.transform(t, lambda x: F.array_position(t, x).cast("string"))
    )
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id int, text string"
    )
    rows = {r["doc_id"]: r["c"] for r in df.select("doc_id", canon.alias("c")).collect()}
    for i, s in enumerate(texts):
        assert rows[i] == _py_canon(s.split(" "))


def test_bench_timed_queries_are_registered():
    """Every name in bench.py's timed list must exist in the registry —
    a typo here crashes the driver's per-round bench run."""
    import re

    src = open("bench.py").read()
    m = re.search(r"QUERY_NAMES = \[(.*?)\]", src, re.S)
    assert m
    names = re.findall(r'"([a-z_0-9]+)"', m.group(1))
    assert len(names) >= 30
    missing = [n for n in names if n not in Q.QUERIES]
    assert not missing, missing


def test_tfidf_ranks_are_dense_topk(spark):
    rows = Q.q_tfidf_top_terms(spark, "/root/testdata/sf0.001").collect()
    by_doc: dict[int, list[int]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["rnk"])
    assert by_doc
    for ranks in by_doc.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= Q.TFIDF_TOP_K
