"""Late-round-7 operators: Manku blocked-Hamming simhash pairs and the
Bayardo prefix-filter exact all-pairs join — completeness (both are
EXACT-recall operators, so brute force is the oracle), pruning
effectiveness, and the exchange-reuse plan shapes the docstrings claim;
plus the job group of the registry's concurrent checkpoints."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from libchunk_spark import queries as Q
from libchunk_spark.operators.allpairs import allpairs_jaccard, prefix_candidates
from plan_nodes import exchange_kinds

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"
SF1 = os.path.join(os.path.dirname(SF01), "sf0.1")


# ----------------------------------------------------------- simhash/Hamming


def _brute_hamming_pairs(sigs: dict[int, int], radius: int):
    ids = sorted(sigs)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= radius:
                out.add((a, b, h))
    return out


def test_simhash_hamming_pairs_equal_brute_force(spark):
    """Pigeonhole completeness is a theorem, not a tuning knob: the blocked
    join must find EVERY pair within HAMMING_RADIUS, and the bit_count
    verify must reject everything beyond it — brute force over all sig
    pairs is the exact oracle."""
    sigs = {
        r["doc_id"]: r["simhash32"] for r in Q.q_simhash32(spark, SF01).collect()
    }
    expected = _brute_hamming_pairs(sigs, Q.HAMMING_RADIUS)
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in Q.q_simhash_hamming_pairs(spark, SF01).collect()
    }
    assert got == expected
    assert len(got) > 0  # exact dups exist in the corpus -> hamming-0 pairs


def test_simhash_hamming_reuses_the_blocks_exchange(spark):
    """Both self-join sides must reuse ONE exchange over the exploded
    (block, value) table (broadcast off = the 100 TB join shape): the
    signature aggregation and block explosion run once, not twice."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = Q.q_simhash_hamming_pairs(spark, SF)
        df.collect()  # AQE: reuse shows only in the final adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, plan


# ------------------------------------------------------ all-pairs / Bayardo


def _round4(x: float) -> float:
    # half away from zero, matching Spark/DuckDB round() (CLAUDE.md rule)
    import math

    return math.copysign(math.floor(abs(x) * 1e4 + 0.5) / 1e4, x)


def _brute_jaccard_pairs(doc_toks: dict[int, frozenset], t: float):
    ids = sorted(doc_toks)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ta, tb = doc_toks[a], doc_toks[b]
            if not ta or not tb:
                continue
            inter = len(ta & tb)
            jac = _round4(inter / (len(ta) + len(tb) - inter))
            if jac >= t:
                out[(a, b)] = jac
    return out


def _random_token_table(spark, seed=7, n_docs=40, vocab=30):
    """Random small-vocab token sets with planted duplicate families so
    pairs exist on both sides of the 0.5 threshold."""
    rng = random.Random(seed)
    docs = {}
    for d in range(n_docs):
        base = d % 8  # 8 families -> near-dups within a family
        toks = set(
            f"t{(base * 3 + i) % vocab}" for i in range(rng.randint(4, 12))
        )
        if rng.random() < 0.5:  # perturb: drop/add a token
            toks.add(f"t{rng.randrange(vocab)}")
        if rng.random() < 0.3 and len(toks) > 4:
            toks.pop()
        docs[d] = frozenset(toks)
    rows = [(d, t) for d, ts in docs.items() for t in ts]
    return docs, spark.createDataFrame(rows, "doc_id: long, tok: string")


def test_allpairs_jaccard_equals_brute_force_random(spark):
    """Exact recall AND exact precision on a randomized planted corpus:
    the prefix join is a candidate superset, the verify must cut it to
    exactly the brute-force >= t set with identical rounded scores."""
    docs, toks = _random_token_table(spark)
    expected = _brute_jaccard_pairs(docs, 0.5)
    got = {
        (r["a"], r["b"]): r["jac"]
        for r in allpairs_jaccard(toks, 0.5).collect()
    }
    assert got == expected
    assert len(expected) >= 5  # the planting produced a real pair set


def test_allpairs_gram_hashes_do_not_collide_on_the_corpora(spark):
    """allpairs_jaccard counts |A∩B| over xxhash64 of the grams, which is
    the string-set count only while no two distinct grams share a hash.
    Pin that for the word-3grams of the sf0.01 and sf0.1 documents."""
    grams = (
        Q._gram_rows(Q._docs(spark, SF01), "doc_id")
        .unionByName(Q._gram_rows(Q._docs(spark, SF1), "doc_id"))
        .select("gram")
        .distinct()
    )
    by_hash = grams.groupBy(F.xxhash64("gram").alias("h")).agg(
        F.count("*").alias("n")
    )
    row = by_hash.agg(F.count("*").alias("hashes"), F.max("n").alias("most")).first()
    assert row["most"] == 1, f"{row['most']} distinct grams share one xxhash64"
    assert row["hashes"] > 20_000  # the check ran over the real gram universe


def test_allpairs_hash_verify_equals_string_verify_on_single_gram_edits(spark):
    """Adversarial near-dups: documents that differ from a base (and from
    each other) by ONE gram, where the differing grams are one character
    apart, plus a pair sitting exactly on J = 0.5. The hash-set verify must
    give the same pairs and rounded scores as a string-set verify."""
    words = [f"w{i}" for i in range(22)]
    base = [" ".join(words[i : i + 3]) for i in range(20)]
    docs = {0: frozenset(base)}
    for d in range(1, 11):
        edited = list(base)
        edited[d] = edited[d][:-1] + "X"  # same gram but its last char
        docs[d] = frozenset(edited)
    docs[20] = frozenset({"a b c", "b c d", "c d e"})
    docs[21] = frozenset({"a b c", "b c d", "c d E"})  # J = 2/4 = 0.5
    toks = spark.createDataFrame(
        [(d, t) for d, ts in docs.items() for t in ts], "doc_id long, tok string"
    )
    expected = _brute_jaccard_pairs(docs, 0.5)
    got = {(r["a"], r["b"]): r["jac"] for r in allpairs_jaccard(toks, 0.5).collect()}
    assert got == expected
    assert expected[(20, 21)] == 0.5 and expected[(0, 1)] == _round4(19 / 21)


def test_allpairs_prefix_actually_prunes(spark):
    """The candidate set must be a strict subset of all doc pairs (the
    entire point of prefix filtering) while still covering every true
    pair — measured on the real sf0.001 corpus."""
    toks = Q._gram_rows(
        spark.read.parquet(f"{SF}/documents.parquet"), "doc_id"
    ).withColumnRenamed("gram", "tok")
    n_docs = toks.select("doc_id").distinct().count()
    cand = prefix_candidates(toks, Q.ALLPAIRS_THRESHOLD)
    n_cand = cand.count()
    assert n_cand < n_docs * (n_docs - 1) // 2 * 0.5, (
        f"prefix filter pruned nothing: {n_cand} candidates for {n_docs} docs"
    )
    true_pairs = {
        (r["a"], r["b"]) for r in Q.q_allpairs_jaccard(spark, SF).collect()
    }
    cand_pairs = {(r["a"], r["b"]) for r in cand.collect()}
    assert true_pairs <= cand_pairs


def test_ppjoin_positional_filter_preserves_results(spark):
    """The positional filter may only SHRINK the candidate set — the
    brute-force pair set must still be covered (the first-common-token
    row's bound equals the true overlap, so qualifying pairs always keep
    at least one row)."""
    docs, toks = _random_token_table(spark, seed=11, n_docs=50)
    s_on = {
        (r["a"], r["b"])
        for r in prefix_candidates(toks, 0.5, positional=True).collect()
    }
    s_off = {
        (r["a"], r["b"])
        for r in prefix_candidates(toks, 0.5, positional=False).collect()
    }
    assert s_on <= s_off
    expected = _brute_jaccard_pairs(docs, 0.5)
    assert set(expected) <= s_on


# ------------------------------------------------- semantic decontamination


def test_max_sim_to_set_planted_flags(spark):
    """Planted geometry: a corpus vector parallel to an eval vector must
    flag, an orthogonal one must not, eval rows never appear in the
    output, and every corpus row appears exactly once."""
    from libchunk_spark.operators.similarity import max_sim_to_set

    rows = [
        (0, [1.0, 0.0, 0.0]),   # eval
        (50, [0.0, 1.0, 0.0]),  # eval
        (1, [2.0, 0.0, 0.0]),   # parallel to eval 0 -> sim 1.0
        (2, [0.0, 0.0, 3.0]),   # orthogonal to both -> sim 0.0
        (3, [1.0, 1.0, 0.0]),   # 45 deg to both -> sim 0.7071
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    from pyspark.sql import functions as SF_

    is_eval = SF_.col("vec_id").isin(0, 50)
    got = {
        r["vec_id"]: r["max_eval_sim"]
        for r in max_sim_to_set(
            emb.where(~is_eval), emb.where(is_eval), out_col="max_eval_sim"
        ).collect()
    }
    assert got == {1: 1.0, 2: 0.0, 3: 0.7071}


def test_semantic_decontam_is_map_only(spark):
    """The corpus side must never shuffle: the eval matrix broadcasts and
    the scan feeds one Arrow-batched matmul — zero Exchange nodes in the
    plan (q_decontam_flags' broadcast-the-eval-side discipline, without
    even the distinct)."""
    df = Q.q_semantic_decontam_flags(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # scan-parallelism round-robin spread (scan.read_parallel, r8) is the
    # only exchange allowed — the corpus still never shuffles by key
    assert "hashpartitioning" not in plan, plan
    kinds = exchange_kinds(plan)
    assert set(kinds) <= {"Exchange RoundRobinPartitioning"}, (kinds, plan)
    n_corpus = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .where(F.col("vec_id") % 50 != 0)
        .count()
    )
    assert df.count() == n_corpus


def test_allpairs_reuses_the_prefix_exchange(spark):
    """Both self-join sides must reuse ONE exchange over the ranked prefix
    table (broadcast off): the gram explosion, df ranking, and prefix
    filter run once, not twice."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = Q.q_allpairs_jaccard(spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, plan


# ------------------------------------------------- concurrent checkpoints


@pytest.mark.parametrize(
    "query", [Q.q_lsh_eval_metrics, Q.q_passage_delta, Q.q_topk_ivf]
)
def test_concurrent_checkpoints_keep_the_callers_job_group(spark, query):
    """Building these queries checkpoints two frames on driver threads.
    Every job that starts meanwhile must carry the caller's job group, or
    per-query job tags and descriptions miss it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    group = f"build-{query.__name__}"
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        query(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    assert tracker.getJobIdsForGroup(group)
    stray = set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert not stray, f"jobs {sorted(stray)} ran outside group {group}"
