"""Context-triggered piecewise hashing (CTPH / ssdeep-style fuzzy digests)
over the content-defined chunk sequence — the ORDER-AWARE fuzzy identity
complementing the set-based sketches (MinHash = set Jaccard, SimHash =
weighted cosine, winnowing = local substring witnesses).

Kornblum 2006 ("Identifying almost identical files using context
triggered piecewise hashing", DFRWS) builds a short digest of one
printable character per context-triggered piece and scores similarity by
edit distance between digests. This re-expression uses the repo's CDC
chunker as the context trigger (the same re-sync property Kornblum's
rolling hash provides: a local edit perturbs O(1) pieces, so digest edit
distance ~ number of changed pieces), with one base64url character per
chunk drawn from the chunk's sha256 K-key — the digest is derivable from
the chunk INDEX alone, no second content pass.

Scale shape: digests are <= max_codes chars per file regardless of file
size, built from the existing chunk table by one group-by (order as data:
sort (pos, code) structs, the split() fan-in discipline). Candidate pairs
join on digest 7-grams (Kornblum's common-substring precondition) with
the repo's df-cap-before-self-join discipline; scoring is levenshtein on
<= max_codes-char strings — bounded work per candidate. The oracle-
checked contract twin is queries.py::q_ctph_contract.

Reference parity: the reference has no fuzzy-digest operator (its
identity is exact K-keys, bits/config.go:42-44); this is beyond-reference
surface. The algorithm is public (Kornblum 2006; spamsum by Tridgell).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from libchunk_spark.chunker.rabin import ChunkerConfig
from libchunk_spark.operators.overlap import df_capped, key_pairs
from libchunk_spark.operators.split import split

# base64url alphabet (RFC 4648 §5) — matches the K-key encoding family
_B64URL = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"
)

CTPH_MAX_CODES = 128  # digest cap, like ssdeep's 64-char digest bound
CTPH_NGRAM = 7  # Kornblum's common-7-gram candidate precondition


def _code_char(k: Column) -> Column:
    """One base64url char from a sha256-hex K-key: first byte mod 64."""
    idx = (F.conv(F.substring(k, 1, 2), 16, 10).cast("int") % 64) + 1
    return F.element_at(F.split(F.lit(_B64URL), ""), idx)


def ctph_digests(
    corpus: DataFrame,
    cfg: ChunkerConfig,
    id_col: str = "file_id",
    max_codes: int = CTPH_MAX_CODES,
) -> DataFrame:
    """(file_id, digest): one char per CDC chunk in stream order, capped
    at max_codes chunks (files longer than max_codes chunks compare by
    their prefix — the documented ssdeep-style truncation; pick a chunk
    config whose expected piece count for typical files sits under the
    cap). Zero-chunk (empty) files get the empty digest."""
    chunks = split(corpus, cfg, keep_payload=False).chunks
    return (
        chunks.select(id_col, "pos", _code_char(F.col("k")).alias("c"))
        .groupBy(id_col)
        .agg(
            F.substring(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "c"))),
                        lambda s: s.c,
                    ),
                ),
                1,
                max_codes,
            ).alias("digest")
        )
    )


def ctph_pairs(
    digests: DataFrame,
    id_col: str = "file_id",
    min_sim: float = 0.5,
    ngram: int = CTPH_NGRAM,
    df_cap: int = 64,
) -> DataFrame:
    """(a, b, sim) pairs with digest similarity >= min_sim, where sim =
    1 - levenshtein(da, db) / max(|da|, |db|) — 1.0 for identical chunk
    sequences, ~0 for unrelated files.

    Candidates must share a digest ngram (stride-1) — Kornblum's
    precondition, expressed as the repo's standard df-capped equi-join:
    a shared run of `ngram` consecutive chunk codes witnesses every pair
    whose digests share that many aligned pieces, and the df cap stops
    boilerplate-heavy code runs from fanning out quadratically. Scoring
    is one levenshtein over <= CTPH_MAX_CODES-char strings per survivor."""
    d = digests.select(F.col(id_col).alias("id"), "digest").where(
        F.length("digest") >= ngram
    )
    grams = d.select(
        "id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("digest") - (ngram - 1)),
                    lambda i: F.col("digest").substr(i, F.lit(ngram)),
                )
            )
        ).alias("g"),
    )
    cand = key_pairs(df_capped(grams, "g", df_cap), "id", "g")
    da = d.select(F.col("id").alias("a"), F.col("digest").alias("da"))
    db = d.select(F.col("id").alias("b"), F.col("digest").alias("db"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .withColumn(
            "sim",
            F.round(
                1
                - F.levenshtein("da", "db")
                / F.greatest(F.length("da"), F.length("db")),
                4,
            ),
        )
        .where(F.col("sim") >= min_sim)
        .select("a", "b", "sim")
    )
