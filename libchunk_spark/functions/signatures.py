"""Shingle hashing, MinHash and SimHash kernels (NumPy, shared by the Spark
UDFs and the brute-force oracle so both sides see the identical config).

MinHash family: affine permutations of Z_2^64, h -> a*h + b (mod 2^64) with
odd a — a bijection on the 64-bit shingle-hash space (standard practice, cf.
Broder '97 resemblance + Spark MinHashLSH's affine family). Deterministic
from SignatureConfig.seed.

SimHash (Charikar '02): 64-bit, unit weights over shingle hashes.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np

from libchunk_spark.chunker.rabin import ChunkerConfig, chunk_batch
from libchunk_spark.config import SignatureConfig


@lru_cache(maxsize=8)
def minhash_params(num_perms: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 2**63, size=num_perms, dtype=np.uint64) * 2 + 1  # odd
    b = rng.integers(0, 2**63, size=num_perms, dtype=np.uint64)
    return a, b


def shingle_hashes(content: bytes, shingle_cfg: ChunkerConfig) -> np.ndarray:
    """Content-defined shingle set of one payload as uint64 hashes.

    Shingles are the pieces cut by the fine-grained Rabin chunker (the
    pipeline's re-expression of libchunk's content-defined chunk identity,
    bits/config.go:42-44); each piece is identified by an 8-byte blake2b of
    its bytes. Returns the *distinct* hashes (a set, as MinHash requires).
    """
    return shingle_hashes_batch([content], shingle_cfg)[0]


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — vectorized uint64 avalanche."""
    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def shingle_hashes_batch(
    payloads: list[bytes], shingle_cfg: ChunkerConfig
) -> list[np.ndarray]:
    """Shingle identity = mix(cut_fp, length, byte_sum) per piece, fully
    vectorized (no per-shingle hashing loop). The three signals are all
    functions of the shingle's content: the 53-bit Rabin digest of its
    trailing window, its exact length, and its exact byte sum — a collision
    needs all three equal, which only perturbs Jaccard estimates at
    negligible rates (the same function is the oracle's, so recall
    comparisons are exact either way)."""
    all_chunks = chunk_batch(payloads, shingle_cfg)
    out: list[np.ndarray] = []
    for data, chunks in zip(payloads, all_chunks):
        k = len(chunks)
        if k == 0:
            out.append(np.empty(0, dtype=np.uint64))
            continue
        arr64 = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
        starts = np.fromiter((c.start for c in chunks), np.int64, k)
        lengths = np.fromiter((c.length for c in chunks), np.uint64, k)
        fps = np.fromiter((c.cut_fp for c in chunks), np.uint64, k)
        sums = np.add.reduceat(arr64, starts)  # chunks partition the payload
        h = _mix64(fps ^ _mix64(lengths ^ _mix64(sums)))
        out.append(np.unique(h))
    return out


_EMPTY_SENTINEL = np.uint64(0xFFFFFFFFFFFFFFFF)


# Shingle-block size for the signature reductions: bounds the transient
# (block, num_perms)/(block, bits) matrices to a fixed ~64 MiB regardless of
# payload size (a 64 MB file with 64-byte shingles has ~1M shingles — the
# unblocked formulation allocated ~1 GB per row inside the executor UDF).
_SIG_BLOCK = 65536


def minhash_signature(hashes: np.ndarray, cfg: SignatureConfig) -> np.ndarray:
    """MinHash signature, shape (num_perms,) uint64. Empty set -> all-max."""
    a, b = minhash_params(cfg.num_perms, cfg.seed)
    acc = np.full(cfg.num_perms, _EMPTY_SENTINEL, dtype=np.uint64)
    for i in range(0, hashes.size, _SIG_BLOCK):
        # (block, num_perms) wrapped affine; min over shingles in the block
        m = hashes[i : i + _SIG_BLOCK, None] * a[None, :] + b[None, :]
        np.minimum(acc, m.min(axis=0), out=acc)
    return acc


def simhash(hashes: np.ndarray, cfg: SignatureConfig) -> int:
    """64-bit SimHash over shingle hashes (unit weights)."""
    if hashes.size == 0:
        return 0
    shifts = np.arange(cfg.simhash_bits, dtype=np.uint64)
    agg = np.zeros(cfg.simhash_bits, dtype=np.int64)
    for i in range(0, hashes.size, _SIG_BLOCK):
        blk = hashes[i : i + _SIG_BLOCK]
        bits = (blk[:, None] >> shifts[None, :]) & np.uint64(1)
        agg += 2 * bits.astype(np.int64).sum(axis=0) - len(blk)
    sig = np.uint64(0)
    for i in range(cfg.simhash_bits):
        if agg[i] > 0:
            sig |= np.uint64(1) << np.uint64(i)
    return int(sig)


def _i64(u: int) -> int:
    """Reinterpret uint64 as int64 (two's complement) for LongType columns."""
    return u - (1 << 64) if u >= (1 << 63) else u


def signature_row(
    hashes: np.ndarray, cfg: SignatureConfig
) -> tuple[list[int], int, list[int], int]:
    """(minhash, simhash, bands, n_shingles) of one shingle-hash set, with
    the uint64 values reinterpreted as the int64 the LongType columns hold
    — the one computation behind the signature UDF and the fused pass."""
    sig = minhash_signature(hashes, cfg)
    return (
        [_i64(int(x)) for x in sig],
        _i64(simhash(hashes, cfg)),
        [_i64(int(x)) for x in band_hashes(sig, cfg)],
        int(hashes.size),
    )


def band_hashes(sig: np.ndarray, cfg: SignatureConfig) -> np.ndarray:
    """LSH band hashes, shape (bands,) uint64: blake2b of each band's rows."""
    r = cfg.rows_per_band
    out = np.empty(cfg.bands, dtype=np.uint64)
    sig_be = sig.astype(">u8")
    for i in range(cfg.bands):
        h = hashlib.blake2b(sig_be[i * r : (i + 1) * r].tobytes() + bytes([i]),
                            digest_size=8).digest()
        out[i] = int.from_bytes(h, "big")
    return out


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two sorted-unique uint64 hash arrays."""
    if a.size == 0 and b.size == 0:
        return 1.0
    inter = np.intersect1d(a, b, assume_unique=True).size
    union = a.size + b.size - inter
    return inter / union if union else 1.0


# ---------------------------------------------------------------- ICWS
# Improved Consistent Weighted Sampling (Ioffe, ICDM 2010): the weighted-
# MinHash generalization — K independent samples (x*, t*) per weighted set
# with P[sample_A == sample_B] = sum_x min(wA, wB) / sum_x max(wA, wB),
# the weighted (multiset) Jaccard. Used for tf-weighted document
# similarity where plain set MinHash throws away term frequency.
#
# All randomness is DERIVED (no stored parameter tables): per (element,
# sample k) the five uniforms come from splitmix64 avalanches of the
# element's 64-bit hash mixed with k- and slot-salted constants, so both
# the Spark UDF and the pure-Python estimator guard share the exact
# construction from the seed alone. Per the repo's hard-won rule (the r6
# mod-2^61 defect), a DERIVED family must be validated by measurement,
# not construction-sharing: tests/test_recall.py pins est-vs-exact
# weighted-Jaccard mae on planted pairs, and queries.py registers the
# wminhash_calibration driver contract.

_ICWS_SLOT_SALTS = (
    0x9E3779B97F4A7C15,  # u1 (gamma r)
    0xC2B2AE3D27D4EB4F,  # u2 (gamma r)
    0x165667B19E3779F9,  # u3 (gamma c)
    0x27D4EB2F165667C5,  # u4 (gamma c)
    0x85EBCA77C2B2AE63,  # u5 (beta)
)


def _icws_uniforms(th: np.ndarray, ks: np.ndarray, slot: int) -> np.ndarray:
    """(n, K) uniforms in (0, 1), deterministic per (element-hash, k, slot).

    53-bit mantissa draw with a +0.5 offset so u is never exactly 0
    (log-safe) or 1."""
    salt = np.uint64(_ICWS_SLOT_SALTS[slot])
    x = _mix64(th[:, None] ^ _mix64(ks[None, :] ^ salt))
    return ((x >> np.uint64(11)).astype(np.float64) + 0.5) / float(1 << 53)


def icws_samples(
    th: np.ndarray, weights: np.ndarray, num_samples: int, seed: int
) -> np.ndarray:
    """K packed ICWS samples (int64) of one weighted set.

    th       -- uint64 element hashes (e.g. xxhash64 of the token);
    weights  -- positive float/int weights aligned with th (e.g. tf).

    Per sample k and element x (Ioffe 2010, Algorithm 1):
      r_x ~ Gamma(2,1) = -ln(u1 u2),  c_x ~ Gamma(2,1),  b_x ~ U(0,1)
      t_x = floor(ln w_x / r_x + b_x)
      y_x = exp(r_x (t_x - b_x));   a_x = c_x / (y_x exp(r_x))
      sample_k = (x*, t_{x*}) for x* = argmin a_x
    The (element, t) pair is packed into one int64 via splitmix64 mixing —
    collision probability ~2^-64 per comparison, negligible against the
    estimator's 1/sqrt(K) noise. Empty sets return all-(-1) sentinels.
    """
    k = int(num_samples)
    if th.size == 0:
        return np.full(k, -1, dtype=np.int64)
    if not (weights > 0).all():  # ADVICE r7: ln(w) of a non-positive
        raise ValueError(  # weight silently yields -inf/NaN argmins
            "icws_samples requires strictly positive weights"
        )
    th = th.astype(np.uint64)
    ks = _mix64(
        np.arange(k, dtype=np.uint64)
        ^ np.uint64((seed * 0x9E3779B97F4A7C15) % (1 << 64))
    )
    u1 = _icws_uniforms(th, ks, 0)
    u2 = _icws_uniforms(th, ks, 1)
    r = -np.log(u1) - np.log(u2)
    u3 = _icws_uniforms(th, ks, 2)
    u4 = _icws_uniforms(th, ks, 3)
    c = -np.log(u3) - np.log(u4)
    beta = _icws_uniforms(th, ks, 4)
    lw = np.log(weights.astype(np.float64))[:, None]
    t = np.floor(lw / r + beta)
    # ln y = r (t - beta); ln a = ln c - ln y - r  (log-space: y overflows
    # float64 for |t| beyond ~700/r, and argmin only needs the order)
    ln_a = np.log(c) - r * (t - beta) - r
    idx = np.argmin(ln_a, axis=0)
    cols = np.arange(k)
    t_star = t[idx, cols]
    # pack (element hash, integer t) -> int64; t is salted through the
    # mixer so (x, t) and (x, t') never collide in practice
    t_bits = t_star.astype(np.int64).view(np.uint64)
    packed = _mix64(th[idx] ^ _mix64(t_bits ^ np.uint64(0xA0761D6478BD642F)))
    return packed.view(np.int64)
