"""Vectorized pandas/Arrow UDF boundaries (input_hint: "no per-row Python").

* chunk_rows_generator (mapInPandas) — content-defined chunking straight to
  flat chunk rows with sha256 K-keys. Emitting the exploded table from
  Python avoids the Generate operator, which copies every parent column
  into each output row (measured 5-10x slowdown on wide content columns).
* signature_udf — MinHash signature + SimHash + LSH band hashes per row,
  computed from the fine-grained shingle chunking in one pass.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from libchunk_spark.chunker.rabin import ChunkerConfig, chunk_batch
from libchunk_spark.config import SignatureConfig
from libchunk_spark.functions.signatures import (
    _i64,
    shingle_hashes_batch,
    signature_row,
)

SIGNATURE_TYPE = T.StructType(
    [
        T.StructField("minhash", T.ArrayType(T.LongType())),
        T.StructField("simhash", T.LongType()),
        T.StructField("bands", T.ArrayType(T.LongType())),
        T.StructField("n_shingles", T.IntegerType()),
    ]
)


def _as_bytes(v) -> bytes:
    if v is None:
        return b""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return bytes(v)


CHUNK_ROWS_SCHEMA = (
    "file_id long, pos int, start long, length int, cut_fp long, k string"
)
CHUNK_ROWS_SCHEMA_PAYLOAD = CHUNK_ROWS_SCHEMA + ", chunk binary"


def make_chunk_rows_generator(cfg: ChunkerConfig, with_payload: bool = False):
    """mapInPandas generator: (file_id, content) batches -> flat chunk rows.

    One Arrow round-trip produces the exploded chunk table directly — no
    array<struct> nesting and no Generate operator (which would otherwise
    copy parent columns per output row). sha256 K-keys (== F.sha2 hex,
    KeyHash analog bits/config.go:42-44) are hashed where the bytes already
    live; with_payload additionally carries the chunk bytes (tests,
    round-trip verification).
    """
    import hashlib

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                v.encode("utf-8") if isinstance(v, str) else _as_bytes(v)
                for v in pdf["content"]
            ]
            all_chunks = chunk_batch(payloads, cfg)
            cols: dict[str, list] = {
                "file_id": [], "pos": [], "start": [], "length": [],
                "cut_fp": [], "k": [],
            }
            if with_payload:
                cols["chunk"] = []
            for fid, data, chunks in zip(pdf["file_id"], payloads, all_chunks):
                for i, c in enumerate(chunks):
                    piece = data[c.start : c.start + c.length]
                    cols["file_id"].append(fid)
                    cols["pos"].append(i)
                    cols["start"].append(c.start)
                    cols["length"].append(c.length)
                    cols["cut_fp"].append(_i64(c.cut_fp))
                    cols["k"].append(hashlib.sha256(piece).hexdigest())
                    if with_payload:
                        cols["chunk"].append(piece)
            yield pd.DataFrame(cols)

    return gen


SHINGLE_ROWS_SCHEMA = "file_id long, sh long"


def make_shingle_rows_generator(cfg: ChunkerConfig):
    """mapInPandas generator: (file_id, content) batches -> exploded distinct
    shingle-hash rows (file_id, sh) — the exact uint64 sets (as int64)
    MinHash signatures reduce, for est-vs-exact-Jaccard calibration
    (q_minhash_calibration_prod). Same no-Generate rationale as
    make_chunk_rows_generator."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                v.encode("utf-8") if isinstance(v, str) else _as_bytes(v)
                for v in pdf["content"]
            ]
            hash_sets = shingle_hashes_batch(payloads, cfg)
            fids = np.concatenate(
                [
                    np.full(hs.size, fid, dtype=np.int64)
                    for fid, hs in zip(pdf["file_id"], hash_sets)
                ]
            ) if hash_sets else np.empty(0, dtype=np.int64)
            shs = (
                np.concatenate(hash_sets).view(np.int64)
                if hash_sets
                else np.empty(0, dtype=np.int64)
            )
            yield pd.DataFrame({"file_id": fids, "sh": shs})

    return gen


def make_signature_udf(shingle_cfg: ChunkerConfig, sig_cfg: SignatureConfig):
    """pandas UDF: binary content -> (minhash, simhash, bands, n_shingles)."""

    def fn(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in batches:
            payloads = [_as_bytes(v) for v in s]
            hash_sets = shingle_hashes_batch(payloads, shingle_cfg)
            rows = [signature_row(hs, sig_cfg) for hs in hash_sets]
            yield pd.DataFrame(
                rows, columns=["minhash", "simhash", "bands", "n_shingles"]
            )

    return pandas_udf(fn, SIGNATURE_TYPE)


def make_type2_canon_udf():
    """pandas UDF: text -> Type-2 canonical pattern string, each token
    replaced by the 1-based position of its FIRST occurrence in the token
    list ("a b a" -> "1 2 1", identical to array_position semantics).

    O(tokens) per row via pd.factorize + np.unique(return_index), replacing
    the O(tokens^2) `array_position inside transform` expression (VERDICT
    r06 next #3: a 100k-token doc cost ~10^10 comparisons in one task).
    Tokenization is str.split(" "), byte-compatible with F.split(text, ' ')
    (both keep empty tokens), so canon_sha is unchanged and the DuckDB
    oracle needs no edit."""

    def fn(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            out = []
            for v in s:
                toks = ("" if v is None else v).split(" ")
                codes, _ = pd.factorize(np.asarray(toks, dtype=object))
                _, first = np.unique(codes, return_index=True)
                out.append(" ".join((first[codes] + 1).astype(str)))
            yield pd.Series(out)

    return pandas_udf(fn, T.StringType())


def utf8_bytes(col):
    """content string -> binary, pinning the UTF-8 encoding in one place
    (SURVEY.md §7 risk: sha2/chunker byte agreement)."""
    return F.encode(col, "UTF-8")
