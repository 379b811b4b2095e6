"""Exact-threshold all-pairs similarity join via prefix filtering.

Bayardo, Ma & Srikant, "Scaling Up All Pairs Similarity Search" (WWW 2007),
re-expressed as a declarative Spark plan over a (doc_id, tok) distinct-token
table:

* order the token universe by ascending document frequency (rarest first,
  ties broken by token text — a deterministic total order both engines
  share);
* a document with |d| tokens only needs its first
  p(d) = |d| - ceil(t * |d|) + 1 tokens (its PREFIX) indexed: for any pair
  with Jaccard >= t, |A∩B| >= t*|A∪B| >= t*max(|A|,|B|), so the globally
  first common token sits within BOTH prefixes (if it didn't, the
  intersection would fit inside a suffix smaller than t*|d|);
* candidates = equality self-join of the prefix table on token (plus the
  size-ratio filter t*|A| <= |B| <= |A|/t, a consequence of
  |A∩B| <= min and |A∪B| >= max, and PPJoin's positional filter — see
  prefix_candidates);
* verify = exact Jaccard on the candidates only, from per-doc sorted token
  arrays (row-local array_intersect — no further shuffle of token rows).

Contrast with MinHash/LSH banding (operators/lsh.py): banding is
probabilistic (recall < 1, tuned by bands x rows) and pays a signature
pass; prefix filtering is EXACT (recall = 1 by construction) and pays a
document-frequency ranking pass. At 100 TB the df table is the token
vocabulary (heavy-tailed, small), the ranking window shuffles once on
doc_id, and the prefix table — a ceil((1-t)|d|)-fraction of the token rows
— is the only thing the self-join shuffles; stop-token fan-out is bounded
by the rarest-first ordering, which pushes high-df tokens OUT of prefixes.

Reference parity: libchunk dedups on exact content keys
(/root/reference/bits/keys.go); this operator is the exact-threshold
near-dup generalization on the same "never compare everything" principle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def prefix_candidates(
    tokens: DataFrame, threshold: float, positional: bool = True
) -> DataFrame:
    """Candidate pairs (a, b, na, nb) from the prefix-filter join.

    `tokens` must be a distinct (doc_id, tok) table. Superset of the true
    result set (completeness is the pigeonhole argument above); callers
    verify with exact Jaccard. Exposed separately so tests can measure
    pruning effectiveness.

    `positional=True` adds PPJoin's positional filter (Xiao, Wang, Lin &
    Yu, WWW 2008): a shared token at rank i of A and j of B bounds the
    overlap from that token onward by min(|A|-i, |B|-j) + 1; J >= t needs
    |A∩B| >= t/(1+t)*(|A|+|B|), so rows whose bound can't reach that are
    dropped BEFORE the distinct. Completeness survives per-row filtering:
    for the globally FIRST common token the bound equals |A∩B| itself, so
    a qualifying pair's first-common-token row always passes. The filter
    only shrinks the candidate set — the verified result is identical
    (equality pytest) — so the SQL oracle keeps the plain prefix join.
    """
    sizes = tokens.groupBy("doc_id").agg(F.count("*").alias("sz"))
    df = tokens.groupBy("tok").agg(F.count("*").alias("df"))
    rank_w = Window.partitionBy("doc_id").orderBy("df", "tok")
    ranked = (
        tokens.join(df, "tok")
        .withColumn("rn", F.row_number().over(rank_w))
        .join(sizes, "doc_id")
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    prefix = ranked.where(F.col("rn") <= prefix_len).select(
        "doc_id", "tok", "sz", "rn"
    )
    l, r = prefix.alias("l"), prefix.alias("r")
    cond = (
        (F.col("l.doc_id") < F.col("r.doc_id"))
        # size-ratio filter: J(A,B) >= t forces t <= |A|/|B| <= 1/t
        & (F.col("r.sz") >= F.lit(threshold) * F.col("l.sz"))
        & (F.col("l.sz") >= F.lit(threshold) * F.col("r.sz"))
    )
    if positional:
        # overlap upper bound from this shared token onward vs the overlap
        # J >= t requires; float t/(1+t) is a VALID (if non-dyadic) lower
        # bound on the required overlap — Spark-side only, result-preserving
        required = F.lit(threshold / (1.0 + threshold)) * (
            F.col("l.sz") + F.col("r.sz")
        )
        upper = (
            F.least(
                F.col("l.sz") - F.col("l.rn"), F.col("r.sz") - F.col("r.rn")
            )
            + 1
        )
        cond = cond & (upper >= required)
    return (
        l.join(r, "tok")
        .where(cond)
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.col("l.sz").alias("na"),
            F.col("r.sz").alias("nb"),
        )
        .distinct()
    )


def allpairs_jaccard(tokens: DataFrame, threshold: float) -> DataFrame:
    """Every pair with exact set-Jaccard >= threshold: (a, b, jac).

    jac is rounded to 4 places (half-away-from-zero in both Spark and
    DuckDB — see similarity._round4 note in CLAUDE.md).
    """
    cand = prefix_candidates(tokens, threshold)
    # verify over token HASHES, not strings: |A∩B| is a set cardinality,
    # and xxhash64 is injective on this universe in practice (expected
    # collisions over 1e8 pair-token comparisons ~ 5e-12), so the count
    # — and therefore the rounded jac and the emitted pair set — is
    # identical (tests/test_queries_batch7.py pins no collision over the
    # sf0.01 + sf0.1 grams and hash == string verify on single-gram
    # edits) while the verify joins shuffle 8-byte
    # longs instead of ~25-byte gram strings per element (measured
    # 7.8 -> 5.8 s at 10x scale; opt guide §2.3 "narrower types").
    arrays = tokens.select("doc_id", F.xxhash64("tok").alias("h")).groupBy(
        "doc_id"
    ).agg(F.sort_array(F.collect_set("h")).alias("toks"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("long")
    jac = F.round(inter / (F.col("na") + F.col("nb") - inter), 4)
    return (
        cand.join(arrays.select(F.col("doc_id").alias("a"), F.col("toks").alias("ta")), "a")
        .join(arrays.select(F.col("doc_id").alias("b"), F.col("toks").alias("tb")), "b")
        .select("a", "b", jac.alias("jac"))
        .where(F.col("jac") >= threshold)
    )
