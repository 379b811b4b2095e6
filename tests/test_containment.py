"""Suffix-array and containment-pass tests."""

from __future__ import annotations

import numpy as np
import pytest

from libchunk_spark.config import CORPUS_PIPELINE_CONFIG as CFG
from libchunk_spark.fixtures import corpus_to_spark, generate_corpus
from libchunk_spark.operators.containment import (
    containment_candidates,
    contains_via_sa,
    suffix_array,
    verify_containment,
)
from libchunk_spark.operators.split import split


def test_suffix_array_correct():
    s = b"banana"
    sa = suffix_array(s)
    suffixes = [s[i:] for i in sa]
    assert suffixes == sorted(s[i:] for i in range(len(s)))


def test_suffix_array_random():
    rng = np.random.default_rng(4)
    s = rng.integers(0, 4, 500, dtype=np.uint8).tobytes()  # small alphabet
    sa = suffix_array(s)
    suffixes = [s[i:] for i in sa]
    assert suffixes == sorted(s[i:] for i in range(len(s)))


def test_contains_via_sa():
    hay = b"the quick brown fox jumps over the lazy dog"
    sa = suffix_array(hay)
    assert contains_via_sa(hay, sa, b"brown fox")
    assert contains_via_sa(hay, sa, b"the lazy dog")
    assert not contains_via_sa(hay, sa, b"purple fox")
    assert contains_via_sa(hay, sa, b"")


def test_containment_pass_finds_planted_embeddings(spark):
    rows = generate_corpus(n_files=150, seed=31)
    planted = [
        (r.file_id, r.family) for r in rows if r.kind == "container"
    ]
    assert planted, "fixture must plant containment cases"
    corpus = corpus_to_spark(spark, rows).cache()
    sp = split(corpus, CFG.chunk)
    cands = containment_candidates(sp.chunks, sp.file_keys)
    verified = verify_containment(cands, corpus)
    got = {(r["a"], r["b"]) for r in verified.collect()}
    # every planted (base_file -> container_file) pair must be verified,
    # except bases too small to produce shareable interior chunks
    sizes = {r.file_id: len(r.content) for r in rows}
    misses = []
    for fid, fam in planted:
        a, b = sorted((fid, fam))
        if sizes[fam] >= 4 * CFG.chunk.min_size and (a, b) not in got:
            misses.append((a, b))
    assert not misses, f"planted containments missed: {misses}"


def test_verified_containment_is_true_substring(spark):
    rows = generate_corpus(n_files=100, seed=55)
    content = {r.file_id: r.content for r in rows}
    corpus = corpus_to_spark(spark, rows)
    sp = split(corpus, CFG.chunk)
    verified = verify_containment(
        containment_candidates(sp.chunks, sp.file_keys), corpus
    ).collect()
    for r in verified:
        small, large = sorted((r["a"], r["b"]), key=lambda f: len(content[f]))
        assert content[small] in content[large]
        assert r["container"] == large


def test_driver_corpus_bases_chunk_enough(spark):
    """ADVICE r02: q_containment_pairs' oracle equality assumes every base
    yields >= 2 chunks under DOCS_CONFIG.chunk (a single-chunk base's only
    key never recurs in its composite). Guard the corpus construction."""
    from libchunk_spark.config import DOCS_CONFIG
    from libchunk_spark.queries import _containment_corpus

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        corpus = _containment_corpus(spark, sf)
        fk = split(corpus, DOCS_CONFIG.chunk, keep_payload=False).file_keys
        low = fk.where("n_chunks < 2").count()
        assert low == 0, f"{sf}: {low} corpus files with < 2 chunks"


def test_verify_builds_each_container_sa_once():
    """VERDICT r04 wrong #3 / next #5: one container with many candidate
    containees must pay ONE suffix-array build, not one per pair. Exercised
    on the pure pandas verifier (_verify_pdf) with an injected counting
    builder — the Spark UDF body runs in worker processes a driver-side
    monkeypatch can't reach; Spark-side grouping-by-container is covered by
    the planted-embedding tests above."""
    import pandas as pd

    from libchunk_spark.operators.containment import _verify_pdf

    big = "needle_one middle needle_two more text needle_three tail " * 40
    pdf = pd.DataFrame(
        {
            "a": [1, 2, 3, 9],
            "b": [9, 9, 9, 10],
            "ca": ["needle_one", "needle_two", "absent_needle", big],
            "cb": [big, big, big, big + "wrapper"],
            "container": [9, 9, 9, 10],
        }
    )
    calls = []

    def counting_sa(s):
        calls.append(len(s))
        return suffix_array(s)

    out = _verify_pdf(pdf, sa_builder=counting_sa)
    # two distinct containers -> exactly two builds, not four
    assert len(calls) == 2
    got = {(r.a, r.b) for r in out.itertuples()}
    assert got == {(1, 9), (2, 9), (9, 10)}  # absent_needle rejected
    assert set(out["container"]) == {9, 10}


def test_verify_width_follows_parallelism(spark):
    """The verify buckets are 2 * defaultParallelism wide (scan's rule):
    wide enough to use every core, not so wide that tiny inputs pay a
    fixed Python-worker start per empty task."""
    import re

    corpus = corpus_to_spark(spark, generate_corpus(n_files=10, seed=3))
    cands = spark.createDataFrame(
        [(0, 1, 1, 1, 1)], "a long, b long, shared long, n_a long, n_b long"
    )
    ver = verify_containment(cands, corpus)
    plan = ver._jdf.queryExecution().executedPlan().toString()
    width = 2 * spark.sparkContext.defaultParallelism
    assert re.search(rf"hashpartitioning\(bucket#\d+L, {width}\)", plan), plan
