"""The word-gram layer (queries._word_grams / _gram_rows / ngram_doc_counts):
pure-Python brute force on tiny documents, and a plan guard that no gram
lambda re-splits the text (Catalyst does no CSE inside higher-order-
function lambdas, so an unstaged split runs once per gram)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from libchunk_spark import queries as Q

SF = "/root/testdata/sf0.001"

TEXTS = {
    1: "",
    2: "a",
    3: "a b",
    4: "a b c",
    5: "a b a b a b a b",  # repeated grams
    6: "x y z w v x y z w v x y",
    7: "p  q r",  # an empty token between two spaces
    8: "one two three four five six seven",
}


def _py_grams(text: str, n: int) -> list[str]:
    t = text.split(" ")
    return [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]


def _docs(spark):
    return spark.createDataFrame(sorted(TEXTS.items()), "doc_id long, text string")


@pytest.mark.parametrize("n", [2, 3, 5])
def test_word_grams_in_order(spark, n):
    rows = (
        _docs(spark)
        .select("doc_id", Q._tokens().alias("_t"))
        .select("doc_id", Q._word_grams(F.col("_t"), n).alias("g"))
        .collect()
    )
    assert {r["doc_id"]: r["g"] for r in rows} == {
        d: _py_grams(t, n) for d, t in TEXTS.items()
    }


@pytest.mark.parametrize("distinct", [True, False])
@pytest.mark.parametrize("n", [2, 3, 5])
def test_gram_rows_match_brute_force(spark, n, distinct):
    got = sorted(
        tuple(r)
        for r in Q._gram_rows(_docs(spark), "doc_id", n=n, distinct=distinct)
        .select("doc_id", "gram")
        .collect()
    )
    want = sorted(
        (d, g)
        for d, t in TEXTS.items()
        for g in (set if distinct else list)(_py_grams(t, n))
    )
    assert got == want


def test_ngram_doc_counts_match_brute_force(spark):
    docs = spark.createDataFrame(
        sorted(TEXTS.items()) + [(9, TEXTS[6]), (10, TEXTS[5])],
        "file_id long, content string",
    )
    want = Counter(
        g
        for t in list(TEXTS.values()) + [TEXTS[6], TEXTS[5]]
        for g in set(_py_grams(t, 5))
    )
    got = {
        r["ngram"]: r["n_docs"]
        for r in Q.ngram_doc_counts(docs, "content").collect()
    }
    assert got == dict(want)
    assert want["x y z w v"] == 2  # repeated within a doc, counted once


def _lambda_bodies(plan: str) -> list[str]:
    bodies = []
    start = plan.find("lambdafunction(")
    while start != -1:
        i = start + len("lambdafunction(")
        depth = 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        bodies.append(plan[start:i])
        start = plan.find("lambdafunction(", start + 1)
    return bodies


def _corpus_counts(spark, sf_dir):
    return Q.ngram_doc_counts(Q._docs_corpus(spark, sf_dir), "content")


@pytest.mark.parametrize(
    "query",
    [
        _corpus_counts,
        Q.q_top_ngrams,
        Q.q_repetition_stats,
        Q.q_decontam_flags,
        Q.q_weighted_jaccard_pairs,
        Q.q_ngram_jaccard_pairs,
    ],
)
def test_no_gram_lambda_resplits_the_text(spark, query):
    plan = query(spark, SF)._jdf.queryExecution().optimizedPlan().toString()
    bodies = _lambda_bodies(plan)
    assert any("concat_ws" in b for b in bodies), plan  # grams are in the plan
    assert not [b for b in bodies if "split(" in b], plan
