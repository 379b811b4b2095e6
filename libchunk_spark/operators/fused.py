"""Fused chunk+sign: one pass over content instead of two.

At 10^12-file scale the corpus scan dominates; running the coarse chunker
(put) and the shingle/signature stage as separate jobs decodes and ships
every content byte through Arrow twice. This operator emits both from a
single mapInPandas pass: flat chunk rows, with the per-file signature
columns AND the full-content sha256 attached to the pos==0 row (null
elsewhere) — so every downstream table of the put path (chunks,
chunk_index, file_keys, signatures) is a cheap projection and the corpus
content is never read again.

Downstream splits it back with projections:
    chunks      = fused_chunks(fused)
    chunk_index = fused_chunk_index(fused)   (dropDuplicates on k)
    file_keys   = fused_file_keys(fused)     (groupBy file_id)
    signatures  = fused_signatures(fused)    (pos == 0 rows)
Checkpoint the fused frame once and all consumers read the parquet
(pipeline.run_pipeline wires this; VERDICT r03 item 2). Reference analog:
the put path reads the stream exactly once
(/root/reference/bits/put.go:51-77).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libchunk_spark.config import PipelineConfig
from libchunk_spark.chunker.rabin import chunk_batch
from libchunk_spark.functions.signatures import (
    _i64,
    shingle_hashes_batch,
    signature_row,
)
from libchunk_spark.functions.udfs import _as_bytes
from libchunk_spark.operators.split import chunk_index_of, file_keys_of

FUSED_SCHEMA = (
    "file_id long, pos int, start long, length int, cut_fp long, k string, "
    "minhash array<long>, simhash long, bands array<long>, n_shingles int, "
    "content_sha256 string"
)
FUSED_SCHEMA_PAYLOAD = FUSED_SCHEMA + ", chunk binary"


def chunk_and_sign(
    corpus: DataFrame, cfg: PipelineConfig, keep_payload: bool = False
) -> DataFrame:
    """(file_id, content) -> fused chunk rows + pos==0 signature columns.

    keep_payload=True additionally carries the chunk bytes (the
    content-addressable store payload, bits/config.go:42-44) — the shape
    the production put path checkpoints.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                v.encode("utf-8") if isinstance(v, str) else _as_bytes(v)
                for v in pdf["content"]
            ]
            all_chunks = chunk_batch(payloads, cfg.chunk)
            hash_sets = shingle_hashes_batch(payloads, cfg.shingle)
            names = [
                "file_id", "pos", "start", "length", "cut_fp", "k",
                "minhash", "simhash", "bands", "n_shingles", "content_sha256",
            ]
            if keep_payload:
                names.append("chunk")
            cols: dict[str, list] = {k: [] for k in names}
            for fid, data, chunks, hs in zip(
                pdf["file_id"], payloads, all_chunks, hash_sets
            ):
                mh, sh, bh, ns = signature_row(hs, cfg.signature)
                csha = hashlib.sha256(data).hexdigest()
                if not chunks:  # empty file: signature-only row
                    cols["file_id"].append(fid)
                    cols["pos"].append(0)
                    cols["start"].append(0)
                    cols["length"].append(0)
                    cols["cut_fp"].append(None)
                    cols["k"].append(None)
                    cols["minhash"].append(mh)
                    cols["simhash"].append(sh)
                    cols["bands"].append(bh)
                    cols["n_shingles"].append(ns)
                    cols["content_sha256"].append(csha)
                    if keep_payload:
                        cols["chunk"].append(None)
                    continue
                for i, c in enumerate(chunks):
                    piece = data[c.start : c.start + c.length]
                    cols["file_id"].append(fid)
                    cols["pos"].append(i)
                    cols["start"].append(c.start)
                    cols["length"].append(c.length)
                    cols["cut_fp"].append(_i64(c.cut_fp))
                    cols["k"].append(hashlib.sha256(piece).hexdigest())
                    first = i == 0
                    cols["minhash"].append(mh if first else None)
                    cols["simhash"].append(sh if first else None)
                    cols["bands"].append(bh if first else None)
                    cols["n_shingles"].append(ns if first else None)
                    cols["content_sha256"].append(csha if first else None)
                    if keep_payload:
                        cols["chunk"].append(piece)
            out = pd.DataFrame(cols)
            # int columns containing None would coerce to float64 and lose
            # low bits of 64-bit values — force nullable integer dtypes
            for c in ("cut_fp", "simhash"):
                out[c] = pd.array(cols[c], dtype="Int64")
            out["n_shingles"] = pd.array(cols["n_shingles"], dtype="Int32")
            yield out

    schema = FUSED_SCHEMA_PAYLOAD if keep_payload else FUSED_SCHEMA
    return corpus.select("file_id", "content").mapInPandas(gen, schema)


def fused_chunks(fused: DataFrame) -> DataFrame:
    cols = ["file_id", "pos", "start", "length", "cut_fp", "k"] + (
        ["chunk"] if "chunk" in fused.columns else []
    )
    return fused.where(F.col("k").isNotNull()).select(*cols)


def fused_chunk_index(fused: DataFrame) -> DataFrame:
    """One row per distinct k (idempotent-put semantics, bolt.go:52-55)."""
    return chunk_index_of(fused_chunks(fused))


def fused_file_keys(fused: DataFrame) -> DataFrame:
    """(file_id, content_sha256, n_chunks, keys[]) — same shape as
    split().file_keys, derived without touching the corpus again (the
    content sha rides the fused frame's pos==0 rows)."""
    shas = fused.where(F.col("pos") == 0).select("file_id", "content_sha256")
    return file_keys_of(fused_chunks(fused), shas)


def fused_signatures(fused: DataFrame) -> DataFrame:
    return fused.where(F.col("pos") == 0).select(
        "file_id", "minhash", "simhash", "bands", "n_shingles"
    )
