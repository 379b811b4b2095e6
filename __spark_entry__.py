"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship near-dup clustering on sf0.001 documents.
queries()      — operator registry (SURVEY.md §2 + training-data ops).
oracle_sql()   — DuckDB-equivalent SQL per query (None entries omitted:
                 content-defined chunking is not SQL-expressible, driver
                 records a rows-only check for those).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-duplicate clustering over sf0.001 documents —
    sign → MinHash-LSH + SimHash edges → connected components → cluster
    sizes, largest first."""
    from pyspark.sql import functions as F

    from libchunk_spark.config import DOCS_CONFIG
    from libchunk_spark.fixtures import documents_as_corpus
    from libchunk_spark.operators.components import connected_components
    from libchunk_spark.operators.lsh import (
        minhash_candidate_edges,
        simhash_candidate_edges,
    )
    from libchunk_spark.operators.sign import sign

    corpus = documents_as_corpus(spark, "/root/testdata/sf0.001")
    sigs = sign(corpus, DOCS_CONFIG)
    edges = minhash_candidate_edges(sigs).unionByName(
        simhash_candidate_edges(sigs, DOCS_CONFIG)
    )
    comp = connected_components(edges, all_nodes=corpus.select("file_id"))
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("cluster_size"))
        .orderBy(F.desc("cluster_size"), F.asc("component"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from libchunk_spark.queries import QUERIES

    return {name: fn for name, (fn, _sql) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from libchunk_spark.queries import QUERIES

    return {name: sql for name, (_fn, sql) in QUERIES.items() if sql is not None}
