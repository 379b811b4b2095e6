"""Key-overlap pair joins: the one candidate join every near-dup signal uses.

Two items that share a key (a word 3-gram, a winnowed fingerprint, a
MinHash band signature, a CTPH digest ngram) become a candidate pair, and
nothing compares everything — the same principle as libchunk's content
addressing, where equal chunk keys are the only thing ever matched. Four
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

Exchange reuse: the cap is a window count partitioned by the key, not a
groupBy + join, so its output is already hash-partitioned on the key. When
`key_pairs` / `shared_counts` self-join that output on the same key, both
join sides need exactly that distribution: Spark plans ONE exchange under
the window and the other join side reads it back as a ReusedExchange, so
the upstream key explosion runs once instead of once per join side plus
once for the cap (final-plan-asserted in tests/test_overlap.py; a side
small enough to broadcast is broadcast instead). `key` may be one column or
a list of columns; the window and the join then partition on all of them.

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


def with_sizes(pairs: DataFrame, sizes: DataFrame) -> DataFrame:
    """`pairs` (a, b, ...) plus `na` / `nb` from an (id, sz) frame."""
    id_col, sz = sizes.columns
    return pairs.join(
        sizes.select(F.col(id_col).alias("a"), F.col(sz).alias("na")), "a"
    ).join(sizes.select(F.col(id_col).alias("b"), F.col(sz).alias("nb")), "b")
