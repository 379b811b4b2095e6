"""split (put) — corpus → content-addressable chunk index + ordered key lists.

Spark-first re-expression of bits.Put (/root/reference/bits/put.go:13-109):
the reference's goroutine fan-out/fan-in with an order guard (put.go:86-93)
becomes *order carried as data*: every chunk row has (file_id, pos) from the
chunk UDF, so reassembly sorts instead of synchronizing. sha256 K-keys
(bits/config.go:42-44) are hashed inside the UDF where the bytes already
live; only the small (pos,start,length,cut_fp,k) structs are exploded, so
the Generate operator never duplicates file content per chunk row.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libchunk_spark.chunker.rabin import ChunkerConfig
from libchunk_spark.functions.udfs import (
    CHUNK_ROWS_SCHEMA,
    CHUNK_ROWS_SCHEMA_PAYLOAD,
    make_chunk_rows_generator,
    utf8_bytes,
)


@dataclass
class SplitResult:
    chunks: DataFrame  # (file_id, pos, start, length, cut_fp, k, chunk)
    chunk_index: DataFrame  # (k, length, cut_fp, chunk) — one row per distinct k
    file_keys: DataFrame  # (file_id, content_sha256, n_chunks, keys[])


def split(
    corpus: DataFrame,
    cfg: ChunkerConfig,
    keep_payload: bool = True,
    materialize: bool = False,
) -> SplitResult:
    """Chunk every corpus row; build the chunk index and per-file key lists.

    corpus must have (file_id, content). k = sha256(chunk bytes) hex,
    mirroring KeyHash=sha256 (bits/config.go:42-44).

    materialize=True localCheckpoints the chunk rows before the derived
    frames are built: chunk_index exchanges on k and file_keys on file_id,
    so exchange reuse never dedupes them and a consumer that touches both
    pays the chunker UDF once per branch (2x measured in round_trip_sha /
    containment_pairs). The checkpoint is the in-query analog of the
    pipeline's materialized chunk stage table."""
    gen = make_chunk_rows_generator(cfg, with_payload=keep_payload)
    schema = CHUNK_ROWS_SCHEMA_PAYLOAD if keep_payload else CHUNK_ROWS_SCHEMA
    chunks = corpus.select("file_id", "content").mapInPandas(gen, schema)
    if materialize:
        chunks = chunks.localCheckpoint()

    shas = corpus.select(
        "file_id",
        F.sha2(utf8_bytes(F.col("content")), 256).alias("content_sha256"),
    )
    return SplitResult(
        chunks=chunks,
        chunk_index=chunk_index_of(chunks),
        file_keys=file_keys_of(chunks, shas),
    )


def chunk_index_of(chunks: DataFrame) -> DataFrame:
    """(k, length, cut_fp[, chunk]) — one row per distinct k: idempotent-put
    semantics (bits/store/bolt.go:52-55). The payload column rides along
    when the chunk rows carry it."""
    cols = ["k", "length", "cut_fp"] + (
        ["chunk"] if "chunk" in chunks.columns else []
    )
    return chunks.select(*cols).dropDuplicates(["k"])


def file_keys_of(chunks: DataFrame, shas: DataFrame) -> DataFrame:
    """(file_id, content_sha256, n_chunks, keys[]) from the chunk rows and
    a (file_id, content_sha256) frame with one row per file."""
    grouped = chunks.groupBy("file_id").agg(
        F.count("*").cast("int").alias("n_chunks"),
        # order is data: sort (pos, k) structs, project k — replaces the
        # reference's fan-in monotonicity guard (put.go:86-93)
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "k"))), lambda s: s.k
        ).alias("keys"),
    )
    # left join keeps zero-chunk (empty content) files: they get an empty key
    # list, mirroring the reference (empty stream -> zero keys -> empty join)
    return shas.join(grouped, "file_id", "left").select(
        "file_id",
        "content_sha256",
        F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
        F.coalesce("keys", F.array().cast("array<string>")).alias("keys"),
    )
