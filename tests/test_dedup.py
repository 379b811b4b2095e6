"""Dedup verdicts (representative election) + exact key-list groups."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from libchunk_spark.config import CORPUS_PIPELINE_CONFIG as CFG
from libchunk_spark.fixtures import corpus_to_spark, generate_corpus
from libchunk_spark.operators.components import connected_components
from libchunk_spark.operators.dedup import (
    dedup_verdicts,
    elect_representatives,
    exact_dup_groups_by_keys,
)
from libchunk_spark.operators.lsh import minhash_candidate_edges
from libchunk_spark.operators.sign import sign
from libchunk_spark.operators.split import split


@pytest.fixture(scope="module")
def setup(spark):
    rows = generate_corpus(n_files=120, seed=99)
    corpus = corpus_to_spark(spark, rows).cache()
    sigs = sign(corpus, CFG)
    comp = connected_components(
        minhash_candidate_edges(sigs), all_nodes=corpus.select("file_id")
    ).cache()
    return rows, corpus, comp


def test_exactly_one_representative_per_cluster(setup):
    _, corpus, comp = setup
    verdicts = dedup_verdicts(comp, corpus, policy="longest")
    per_cluster = verdicts.groupBy("component").agg(
        F.sum(F.col("keep").cast("int")).alias("keeps"),
        F.count("*").alias("n"),
    )
    assert per_cluster.where("keeps != 1").count() == 0
    assert verdicts.count() == corpus.count()


def test_longest_policy_keeps_container(setup):
    rows, corpus, comp = setup
    content = {r.file_id: r.content for r in rows}
    reps = {
        r["component"]: r["file_id"]
        for r in elect_representatives(comp, corpus, "longest")
        .where("is_representative")
        .collect()
    }
    assign = {r["file_id"]: r["component"] for r in comp.collect()}
    for r in rows:
        if r.kind == "container" and assign[r.file_id] == assign.get(r.family):
            rep = reps[assign[r.file_id]]
            # the representative is at least as long as the container
            assert len(content[rep]) >= len(content[r.file_id])


def test_min_id_policy_deterministic(setup):
    _, corpus, comp = setup
    a = sorted(map(tuple, dedup_verdicts(comp, policy="min_id").collect()))
    b = sorted(map(tuple, dedup_verdicts(comp, policy="min_id").collect()))
    assert a == b


def test_ngram_containment_catches_partial_copy(spark, tmp_path):
    """Asymmetric containment must flag a doc embedded in a larger one
    (containment ~1.0) that symmetric Jaccard misses at the same threshold
    — the quote-inclusion case the operator exists for."""
    import pandas as pd

    from libchunk_spark.queries import (
        q_ngram_containment_pairs,
        q_ngram_jaccard_pairs,
    )

    small = " ".join(f"tok{i}" for i in range(20))
    # jaccard(small, big) = 18/(18 + 218 - 18) ≈ 0.083 < the 0.2 threshold
    big = small + " " + " ".join(f"pad{i}" for i in range(200))
    other = " ".join(f"zzz{i}" for i in range(20))
    pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": [small, big, other]}
    ).to_parquet(str(tmp_path / "documents.parquet"), index=False)
    cont = {
        (r["a"], r["b"]) for r in q_ngram_containment_pairs(
            spark, str(tmp_path)).collect()
    }
    jac = {
        (r["a"], r["b"]) for r in q_ngram_jaccard_pairs(
            spark, str(tmp_path)).collect()
    }
    assert (1, 2) in cont  # small fully embedded in big
    assert (1, 2) not in jac  # jaccard ~18/78 — under any sane threshold
    assert not any(3 in p for p in cont)  # unrelated doc untouched


def test_exact_groups_by_key_list(setup):
    rows, corpus, _ = setup
    res = split(corpus, CFG.chunk)
    groups = exact_dup_groups_by_keys(res.file_keys).collect()
    # every planted exact dup shares a group with its base
    content = {r.file_id: r.content for r in rows}
    grouped_ids = {fid for g in groups for fid in g["file_ids"]}
    for r in rows:
        if r.kind == "exact":
            assert r.file_id in grouped_ids
    # groups contain only byte-identical files
    for g in groups:
        texts = {content[f] for f in g["file_ids"]}
        assert len(texts) == 1
        assert g["representative"] == min(g["file_ids"])
