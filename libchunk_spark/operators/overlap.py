"""Key-overlap pair joins: the one candidate join every near-dup signal uses.

Two items that share a key (a word 3-gram, a winnowed fingerprint, a
MinHash band signature, a CTPH digest ngram) become a candidate pair, and
nothing compares everything — the same principle as libchunk's content
addressing, where equal chunk keys are the only thing ever matched. Five
pieces, each written once here:

* `df_capped` drops keys held by more than `cap` rows (a document-frequency
  cap): boilerplate keys shared by thousands of items would otherwise make
  the self-join quadratic; with the cap no key fans out to more than
  cap^2/2 pairs.
* `key_pairs` / `shared_counts` self-join on the key with `l.id < r.id`
  (each unordered pair once, no self pairs) and emit the distinct pairs or
  the number of keys each pair shares.
* `with_sizes` attaches both sides' set sizes as `na` / `nb` for the
  Jaccard / containment score.
* `capped_star_pairs` keeps oversized keys instead of dropping them: a key
  held by more than `cap` rows emits star edges from its min id (linear in
  the key's size, connectivity-preserving), a key held by at most `cap`
  rows emits every pair. The SimHash blocks (operators/lsh.py) and the
  sign-LSH buckets (operators/similarity.py) both run through it and then
  verify each candidate with their own metric.

Exchange reuse: the cap is a window count partitioned by the key, not a
groupBy + join, so its output is already hash-partitioned on the key. When
`key_pairs` / `shared_counts` self-join that output on the same key, both
join sides need exactly that distribution: Spark plans ONE exchange under
the window and the other join side reads it back as a ReusedExchange, so
the upstream key explosion runs once instead of once per join side plus
once for the cap (final-plan-asserted in tests/test_overlap.py; a side
small enough to broadcast is broadcast instead). `key` may be one column or
a list of columns; the window and the join then partition on all of them.

`capped_star_pairs` sizes keys with the same window count, so its pair
branch, its star branch and the sizing share one key exchange.

`shared_counts` counts joined rows, so `shared` is |A ∩ B| only when
`rows` holds each (id, key) once — callers pass distinct key sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cols(key: str | list[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def df_capped(rows: DataFrame, key: str | list[str], cap: int) -> DataFrame:
    """`rows` restricted to keys held by at most `cap` rows."""
    return (
        rows.withColumn("df", F.count("*").over(Window.partitionBy(*_cols(key))))
        .where(F.col("df") <= cap)
        .drop("df")
    )


def _self_join(rows: DataFrame, id_col: str, key: str | list[str]) -> DataFrame:
    l, r = rows.alias("l"), rows.alias("r")
    return l.join(r, _cols(key)).where(
        F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    )


def key_pairs(rows: DataFrame, id_col: str, key: str | list[str]) -> DataFrame:
    """Distinct (a, b), a < b, over the ids that share at least one key."""
    return (
        _self_join(rows, id_col, key)
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .distinct()
    )


def shared_counts(rows: DataFrame, id_col: str, key: str | list[str]) -> DataFrame:
    """(a, b, shared), a < b: the number of keys the two ids share."""
    return (
        _self_join(rows, id_col, key)
        .groupBy(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .agg(F.count("*").alias("shared"))
    )


def capped_star_pairs(
    rows: DataFrame,
    id_col: str,
    key: str | list[str],
    carry: str,
    cap: int,
    observation=None,
) -> DataFrame:
    """Distinct (a, b, ca, cb), a < b: candidate pairs of ids that share a
    key, with each side's `carry` column (the value the caller verifies on;
    it must be a function of the id, since the union keeps one row per
    pair).

    Keys held by at most `cap` rows emit every pair. Keys held by more
    degrade to star edges from the key's min id: m - 1 edges instead of
    ~m^2/2, with the same connected components. `min(struct(id, carry))`
    carries the representative's value through one partial-agg-friendly
    groupBy, so no second join fetches it. Pass a
    ``pyspark.sql.Observation`` as `observation` to count the degraded rows
    and keys (`oversized_rows` / `oversized_blocks`, recorded when the
    returned plan executes).
    NB: a pyspark Observation is single-action: don't pass one when the
    result feeds a multi-action consumer like the components loop. When the
    oversized branch is EMPTY, AQE's empty-relation propagation can
    eliminate the CollectMetrics node and Observation.get has nothing to
    read; treat a missing metric as zero degradation.
    """
    cols = _cols(key)
    # key size as a window count over the key partition: ONE exchange that
    # the pair self-join and the star groupBy/join both reuse
    # (ReusedExchange). A groupBy + count + join re-shuffles the rows per
    # branch; and a constant key column (sign-LSH's single table) is folded
    # out of the join keys, so an explicit repartition on the key would not
    # even satisfy the joins' requirements.
    sized = rows.withColumn("sz", F.count("*").over(Window.partitionBy(*cols)))
    small = sized.where(F.col("sz") <= cap).drop("sz")
    big = sized.where(F.col("sz") > cap).drop("sz")
    if observation is not None:
        big = big.observe(
            observation,
            F.count(F.lit(1)).alias("oversized_rows"),
            # DISTINCT aggregates are not allowed in observed metrics;
            # approx_count_distinct (HLL sketch) is, and a ±2% key count
            # is plenty for a degradation signal.
            F.approx_count_distinct(F.concat_ws(":", *cols)).alias(
                "oversized_blocks"
            ),
        )
    pair_cand = _self_join(small, id_col, key).select(
        F.col(f"l.{id_col}").alias("a"),
        F.col(f"r.{id_col}").alias("b"),
        F.col(f"l.{carry}").alias("ca"),
        F.col(f"r.{carry}").alias("cb"),
    )
    # rep = min id, so a < b holds on every star edge
    reps = big.groupBy(*cols).agg(F.min(F.struct(id_col, carry)).alias("rep"))
    star_cand = (
        big.join(reps, cols)
        .where(F.col(id_col) != F.col(f"rep.{id_col}"))
        .select(
            F.col(f"rep.{id_col}").alias("a"),
            F.col(id_col).alias("b"),
            F.col(f"rep.{carry}").alias("ca"),
            F.col(carry).alias("cb"),
        )
    )
    return pair_cand.unionByName(star_cand).dropDuplicates(["a", "b"])


def with_sizes(pairs: DataFrame, sizes: DataFrame) -> DataFrame:
    """`pairs` (a, b, ...) plus `na` / `nb` from an (id, sz) frame."""
    id_col, sz = sizes.columns
    return pairs.join(
        sizes.select(F.col(id_col).alias("a"), F.col(sz).alias("na")), "a"
    ).join(sizes.select(F.col(id_col).alias("b"), F.col(sz).alias("nb")), "b")
