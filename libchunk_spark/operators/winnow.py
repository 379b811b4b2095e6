"""Robust winnowing document fingerprints (MOSS-style), map-only.

Implements the winnowing algorithm of Schleimer, Wilkerson & Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting" (SIGMOD 2003) —
the classic source-code near-duplicate / plagiarism fingerprint selector —
entirely with Spark array higher-order functions, so fingerprint selection
is a MAP-ONLY projection: no shuffle, no UDF, full whole-stage codegen.
This complements the repo's MinHash/SimHash signatures (operators/sign.py)
with the guarantee-carrying local fingerprint family: any substring match
of length >= t = w + k - 1 between two documents is witnessed by at least
one shared selected fingerprint hash (the paper's Theorem; the property
test in tests/test_winnow.py checks exactly this on planted substrings).

Algorithm per document:
  1. hash every char k-gram (40-bit: first 10 hex chars of md5 — the same
     portable construction as the repo's 60-bit gram hash, shortened so the
     (hash, position) pair packs into one 64-bit integer);
  2. encode enc = hash * 2^P + (2^P - 1 - pos mod 2^P), P per hasher
     (POS_BITS_BY_HASHER: md5 20, xxhash64 23), so the natural
     integer order on enc is (hash asc, position desc): the minimum of a
     window is the minimal hash with the RIGHTMOST position on ties —
     robust winnowing's tie-break — computed by a plain array_min;
  3. slide a w-window over the k-gram sequence and keep the distinct
     window minima (array_distinct of per-window array_min over slices).

Scale: selection is per-row compute over the text column (O(n*w) with
tiny constants), so it parallelizes embarrassingly at 10^12 files with
zero exchange. Candidate pairing over the selected fingerprints reuses
the bounded self-join discipline of the n-gram queries (document-
frequency cap before the equi-join) — see queries.py::q_winnow_pairs.

Reference parity note: the reference repo (advdv/libchunk) has no
fingerprint operator — this is part of the beyond-reference training-data
surface (SURVEY.md §2 "Beyond the reference"); the algorithm is public
(SIGMOD 2003 paper, §4 "winnowing" and §5.2 "robust winnowing").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from libchunk_spark.operators.overlap import df_capped, shared_counts, with_sizes

# Guarantee threshold t = WINNOW_W + WINNOW_K - 1 = 11 chars: any common
# substring of >= 11 chars shares a fingerprint (collision-free hashes).
WINNOW_K = 8  # char k-gram width
WINNOW_W = 4  # winnowing window (in k-grams)
# Position bits per hasher (ADVICE r06): position packs into the low bits
# of enc, so beyond 2^POS_BITS k-grams the pos mod wraps and the
# "rightmost minimal hash" tie-break inverts across the boundary — the
# fingerprint VALUES (enc >> POS_BITS = the 40-bit hash) and the
# substring-match guarantee are unaffected, only WHICH occurrence of the
# minimal hash is recorded. md5 path: 20 bits (pinned — the DuckDB oracle
# runs the identical 2^20 constants), robust tie-breaks up to ~1M grams
# (~1 MB docs). xxhash64 production path: 23 bits (40+23 = 63, exactly
# filling a signed long), ~8M grams before any wrap.
POS_BITS = 20
POS_MOD = 1 << POS_BITS  # md5/oracle packing (pinned)
POS_BITS_BY_HASHER = {"md5": 20, "xxhash64": 23}


def _h40(col: Column, hasher: str = "md5") -> Column:
    """40-bit gram hash, two constructions:

    - "md5" (default): first 10 hex chars of md5 — PORTABLE, identical in
      the DuckDB oracle (queries.py::_SQL_WINNOW_FPS). Every oracle-checked
      registry query uses this so both engines hash identically.
    - "xxhash64": top 40 bits of Spark's built-in xxHash64 — the PRODUCTION
      construction (pipeline edge source). xxHash64 is a single codegen'd
      long-returning JVM intrinsic vs md5's digest + hex + base-16 conv
      chain; the winnowing guarantee only needs a uniform 40-bit hash, not
      any particular one (SIGMOD 2003 §4 treats the hash as a black box).
    """
    if hasher == "md5":
        return F.conv(F.substring(F.md5(col), 1, 10), 16, 10).cast("long")
    if hasher == "xxhash64":
        # shiftrightunsigned keeps the result in [0, 2^40): non-negative,
        # so enc = h40*2^23 + pos packs into 63 bits of a signed long
        # (POS_BITS_BY_HASHER["xxhash64"] = 23).
        return F.shiftrightunsigned(F.xxhash64(col), 24)
    raise ValueError(f"unknown winnow hasher: {hasher!r}")


def winnow_encs(text: Column, k: int = WINNOW_K, hasher: str = "md5") -> Column:
    """array<long> of position-packed k-gram hash encodings
    enc = h40*2^P + (2^P-1 - pos%2^P) with P = POS_BITS_BY_HASHER[hasher]
    (20 for the md5/oracle packing, 23 for the production xxhash64 path)
    — the expensive (hash-per-gram)
    half of selection. MATERIALIZE this as its own column (alias it in a
    select) before windowing: Catalyst performs no common-subexpression
    elimination inside higher-order-function lambdas, so a single fused
    expression re-hashes the whole gram array once PER WINDOW — O(n^2)
    md5 calls per document (measured 145 s vs ~2 s at sf0.01 bench)."""
    if isinstance(text, str):
        text = F.col(text)
    pos_mod = 1 << POS_BITS_BY_HASHER[hasher]
    n = F.greatest(F.length(text) - (k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: _h40(text.substr(i, F.lit(k)), hasher) * F.lit(pos_mod)
        + (F.lit(pos_mod - 1) - F.pmod(i, F.lit(pos_mod))),
    )


def winnow_from_encs(encs: Column, w: int = WINNOW_W) -> Column:
    """array<long> of DISTINCT selected encodings given a materialized
    encs column: per window-end j, array_min of the w-slice — O(n*w)
    array reads, zero hashing. Documents with fewer than w k-grams select
    the global minimum (one whole-doc window) — mirrored in the SQL
    oracle via i >= least(w, m). Fingerprint hash = enc >>
    POS_BITS_BY_HASHER[hasher] (use
    F.shiftright, never float division: doubles lose integer precision
    above 2^53)."""
    if isinstance(encs, str):
        encs = F.col(encs)
    m = F.size(encs)
    return F.array_distinct(
        F.transform(
            F.sequence(F.least(F.lit(w), m), m),
            lambda j: F.array_min(
                F.slice(encs, F.greatest(j - (w - 1), F.lit(1)), w)
            ),
        )
    )


def winnow_selected(
    text: Column, k: int = WINNOW_K, w: int = WINNOW_W, hasher: str = "md5"
) -> Column:
    """Single-expression variant (tests/short texts ONLY — see
    winnow_encs: in a query, project winnow_encs first or selection goes
    quadratic in md5 calls)."""
    if isinstance(text, str):
        text = F.col(text)
    return winnow_from_encs(winnow_encs(text, k, hasher), w)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    hasher: str = "md5",
) -> DataFrame:
    """(id, fp) rows: distinct selected fingerprint HASHES per document.

    Positions are dropped after selection (>> POS_BITS_BY_HASHER[hasher]),
    matching the paper's
    fingerprint-set formulation used for all-pairs matching. Two-step
    projection: the md5 encoding array is aliased to a real column so the
    window pass reads it instead of re-deriving it (the multiply-
    referenced non-cheap alias also blocks CollapseProject from fusing
    the steps back into the quadratic form — plan-asserted in
    tests/test_winnow.py)."""
    staged = df.select(
        F.col(id_col), winnow_encs(F.col(text_col), k, hasher).alias("_encs")
    )
    return (
        staged.select(
            F.col(id_col),
            F.explode(winnow_from_encs(F.col("_encs"), w)).alias("enc"),
        )
        .select(
            id_col,
            F.shiftright(F.col("enc"), POS_BITS_BY_HASHER[hasher]).alias("fp"),
        )
        .distinct()
    )


def winnow_pair_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    df_cap: int = 64,
    hasher: str = "md5",
    materialize: bool = False,
) -> DataFrame:
    """(a, b, shared, score) for document pairs sharing selected
    fingerprints; score = shared / min(|A|, |B|) (containment form — a
    small file fully pasted into a big one still scores 1.0).

    |A|, |B| are the UNCAPPED fingerprint-set sizes; only the JOIN side is
    df-capped (ADVICE r06: sizing from the capped sets gave a document
    whose fingerprints are mostly capped-out boilerplate a small
    denominator and an inflated containment score — more false edges past
    score_threshold). The DuckDB oracle mirrors the uncapped sizing.

    Scale shape: fingerprints with document frequency > df_cap are
    dropped BEFORE the self-join (boilerplate headers otherwise fan out
    quadratically); the df-cap window and both join sides reuse one
    exchange over the exploded fingerprints (operators/overlap.py; the
    sizes agg is a separate cheap doc-keyed count). A single shared
    11-char substring is a weak dup signal, so consumers threshold on
    `score`, not mere co-occurrence."""
    fps_all = winnow_fingerprints(
        df, id_col=id_col, text_col=text_col, k=k, w=w, hasher=hasher
    )
    if materialize:
        # the df-cap window exchanges on fp, the sizes agg on the doc id —
        # no exchange reuse between them, so the per-gram-hash fingerprint
        # pipeline (the dominant cost) would run twice. One bounded
        # materialization (the distinct (id, fp) rows) feeds both.
        fps_all = fps_all.localCheckpoint()
    pairs = shared_counts(df_capped(fps_all, "fp", df_cap), id_col, "fp")
    sizes = fps_all.groupBy(id_col).agg(F.count("*").alias("sz"))
    return (
        with_sizes(pairs, sizes)
        .withColumn("score", F.round(F.col("shared") / F.least("na", "nb"), 4))
        .select("a", "b", "shared", "score")
    )


def winnow_candidate_edges(
    corpus: DataFrame,
    id_col: str = "file_id",
    text_col: str = "content",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    df_cap: int = 64,
    score_threshold: float = 0.5,
    hasher: str = "xxhash64",
) -> DataFrame:
    """(a, b) candidate dup edges from winnowed-fingerprint containment —
    the pipeline's optional third edge source (run_pipeline(with_winnow=
    True)) alongside MinHash-LSH and SimHash. Winnowing's guarantee is
    LOCAL (any >= w+k-1-char shared run is witnessed), so this source
    catches partial-copy/paste relationships whole-document MinHash
    dilutes below its Jaccard threshold.

    Production default hasher="xxhash64": the per-gram hash dominates the
    fingerprint stage's cost and this path has no cross-engine oracle to
    match, so it uses the codegen'd JVM intrinsic instead of the md5 chain
    (measured A/B in BENCH/winnow_hash_ab_r6.json). The selection logic and
    guarantee are hash-agnostic; recall-monotonicity pytest runs this path.
    """
    scored = winnow_pair_scores(
        corpus, id_col=id_col, text_col=text_col, k=k, w=w, df_cap=df_cap,
        hasher=hasher,
    )
    return scored.where(F.col("score") >= score_threshold).select("a", "b")
