"""Round-7 operator plan/scale asserts: weighted-Jaccard exchange reuse,
ICWS UDF plan shape, CTPH df-cap placement, rename-query tier
reconciliation — the at-scale plan properties the docstrings claim."""

from __future__ import annotations

import pytest

from libchunk_spark import queries as Q

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_weighted_jaccard_reuses_the_tf_exchange(spark):
    """The df-cap window and both self-join sides must reuse ONE exchange
    over the gram tf table (broadcast off = the 100 TB join shape): the
    gram explosion + per-doc counting runs once, not three times."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = Q.q_weighted_jaccard_pairs(spark, SF)
        df.collect()  # AQE: reuse shows only in the final adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, plan


@pytest.mark.parametrize(
    "query", [Q.q_ngram_jaccard_pairs, Q.q_ngram_containment_pairs]
)
def test_ngram_pairs_reuse_the_cap_exchange(spark, query):
    """The df-cap window and both gram self-join sides read ONE exchange
    over the exploded grams (broadcast off = the 100 TB join shape)."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = query(spark, SF)
        df.collect()  # AQE: reuse shows only in the final adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "isFinalPlan=true" in plan, plan
    # the sizes join reuses a doc_id exchange too; the cap's is the gram one
    reused = [ln for ln in plan.splitlines() if "ReusedExchange" in ln]
    assert any("Exchange hashpartitioning(gram#" in ln for ln in reused), plan


def test_wminhash_samples_only_candidate_docs(spark):
    """Catalyst instantiates the sampling subplan once per join side (no
    cross-side CSE), so the Arrow UDF must sit ABOVE a semi-join prune to
    the candidate doc set — duplicated work is O(candidates), never
    O(corpus). Assert: the UDF is present and every UDF instance's
    subtree contains the LeftSemi prune."""
    df = Q.q_wminhash_calibration(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "_icws_fn" in plan, plan
    # one LeftSemi prune per instantiated sampling subplan
    assert plan.count("Join LeftSemi") >= plan.count("_icws_fn("), plan


def test_ctph_pairs_caps_before_the_self_join(spark):
    """The digest-ngram df cap must sit UNDER the self-join (a window
    filter feeding both sides), so boilerplate code runs are dropped
    before they can fan out quadratically."""
    from libchunk_spark.config import DOCS_CONFIG
    from libchunk_spark.fixtures import documents_as_corpus
    from libchunk_spark.operators.ctph import ctph_digests, ctph_pairs

    dig = ctph_digests(documents_as_corpus(spark, SF), DOCS_CONFIG.shingle)
    plan = ctph_pairs(dig, ngram=3)._jdf.queryExecution().optimizedPlan().toString()
    join_pos = plan.find("Join Inner")
    win_pos = plan.find("windowspecdefinition")
    assert join_pos != -1 and win_pos != -1, plan
    # optimizedPlan prints top-down: the window (cap) must appear BELOW
    # (after) the join node that consumes it
    assert win_pos > join_pos, plan


def test_rename_query_tiers_reconcile(spark):
    """Exact pairs carry sim 1.0 and sha-equal endpoints never appear in
    the edited tier; every edited sim respects the floor and rounding."""
    rows = Q.q_rename_candidates(spark, SF01).collect()
    exact = [r for r in rows if r.kind == "exact"]
    edited = [r for r in rows if r.kind == "edited"]
    assert all(r.sim == 1.0 for r in exact)
    assert all(
        Q.RENAME_SIM_THRESHOLD <= r.sim <= 1.0 for r in edited
    )
    exact_pairs = {(r.old_id, r.new_id) for r in exact}
    assert not exact_pairs & {(r.old_id, r.new_id) for r in edited}
    # parity split: old ids odd, new ids even by construction
    assert all(r.old_id % 2 == 1 and r.new_id % 2 == 0 for r in rows)


def test_weighted_jaccard_nonempty_at_both_sfs(spark):
    """The scale regression that killed the token-df design: the pair set
    must survive the 10x corpus (SCALE.md §14)."""
    assert Q.q_weighted_jaccard_pairs(spark, SF01).count() > 0
    assert (
        Q.q_weighted_jaccard_pairs(spark, "/root/testdata/sf0.1").count() > 0
    )


def test_supershingle_pairs_subset_and_bounds(spark):
    """Tier containment: the >=2-band pairs are a subset of the >=1-band
    candidates; counts live in [MIN_SHARED_BANDS, n_bands]. Non-empty at
    sf0.001 AND sf0.01 so the driver's oracle run can never be trivially
    empty."""
    n_bands = Q.N_PERMS_SQL // Q.BAND_ROWS_SQL
    for sf in (SF, SF01):
        ss = {
            (r.a, r.b): r.n_shared_bands
            for r in Q.q_supershingle_pairs(spark, sf).collect()
        }
        assert ss, sf
        cand = {
            (r.a, r.b) for r in Q.q_lsh_band_pairs(spark, sf).collect()
        }
        assert set(ss) <= cand, sf
        assert all(
            Q.MIN_SHARED_BANDS <= n <= n_bands for n in ss.values()
        ), sf


def test_supershingle_planted_corpus_tiers(spark, tmp_path):
    """Planted-corpus semantics: exact dups (identical text, >= 3 tokens)
    share every gram, so all 4 band signatures agree; unrelated docs share
    none. A light one-word edit on a long doc keeps high Jaccard and must
    still clear the >= 2-of-4 tier (the verdict the operator exists for)."""
    base = " ".join(f"tok{i}" for i in range(200))
    edited = " ".join(
        f"tok{i}" if i != 100 else "CHANGED" for i in range(200)
    )
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, edited),  # near dup of 1/2 (jac ~ 0.97 on 3-grams)
        (4, " ".join(f"other{i}" for i in range(200))),  # unrelated
    ]
    (
        spark.createDataFrame(rows, "doc_id long, text string")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "documents.parquet"))
    )
    n_bands = Q.N_PERMS_SQL // Q.BAND_ROWS_SQL
    ss = {
        (r.a, r.b): r.n_shared_bands
        for r in Q.q_supershingle_pairs(spark, str(tmp_path)).collect()
    }
    assert ss[(1, 2)] == n_bands  # exact dup: every band agrees
    assert (1, 3) in ss and (2, 3) in ss  # near dup clears the >=2 tier
    assert all(4 not in pair for pair in ss)  # unrelated never pairs


def test_supershingle_reuses_the_band_exchange(spark):
    """Both self-join sides must read ONE exchange over the band-signature
    table (broadcast off = the 100 TB join shape): the minhash aggregation
    and md5 band signatures compute once, not twice."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = Q.q_supershingle_pairs(spark, SF)
        df.collect()  # AQE: reuse shows only in the final adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, plan
