"""Vectorized content-defined chunking (Rabin rolling hash).

Reproduces, bit-exact, the cut decisions of the reference chunker
(/root/reference/vendor/github.com/restic/chunker/chunker.go:202-327):

* windowed Rabin fingerprint over GF(2)[x]/P(x), window = 64 bytes;
* a chunk ends at the first position where ``add >= min_size`` and
  ``digest & ((1 << avg_bits) - 1) == 0`` (chunker.go:295);
* a cut is forced at ``add == max_size``;
* the trailing partial chunk is emitted at EOF (chunker.go:227-239) with the
  current digest state as its cut fingerprint;
* the first ``min_size - window`` bytes of each chunk are never hashed
  (the ``pre`` skip, chunker.go:140,250-269) — irrelevant to the digest value
  at cut positions because the window only ever covers the trailing 64 bytes.

Instead of a sequential state machine, the digest at every position is
computed in one shot as 64 table-gathers + XOR (see gf2.window_tables), then a
cheap sequential pass over the (sparse) candidate positions applies the
min/max/EOF rules. Identical output, vectorized throughput.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .gf2 import (
    DEFAULT_POL,
    WINDOW_SIZE,
    paired_window_tables,
    partial_digest,
    window_tables,
    window_tables16,
    window_tables32,
)

KIB = 1024
MIB = 1024 * KIB


@dataclass(frozen=True)
class ChunkerConfig:
    """Chunking parameters (reference defaults: chunker.go:14-27)."""

    pol: int = DEFAULT_POL
    min_size: int = 512 * KIB
    max_size: int = 8 * MIB
    avg_bits: int = 20
    window: int = WINDOW_SIZE

    def __post_init__(self) -> None:
        if self.min_size < self.window:
            raise ValueError(
                f"min_size ({self.min_size}) must be >= window ({self.window})"
            )
        if self.max_size < self.min_size:
            raise ValueError("max_size must be >= min_size")
        if self.pol <= 0:
            raise ValueError("polynomial must be positive")

    @property
    def splitmask(self) -> int:
        return (1 << self.avg_bits) - 1


@dataclass(frozen=True)
class Chunk:
    """One content-defined chunk: mirrors reference Chunk (chunker.go:46-51)."""

    start: int
    length: int
    cut_fp: int  # uint64 digest at the cut


_SCAN_BLOCK = 1 << 14  # positions per block: narrow accumulators, L2-resident
# (sized for MANY concurrent executor threads sharing L3 — larger blocks are
# marginally faster solo but collapse under 32-way cache contention)


def _scan_tables(cfg: ChunkerConfig) -> tuple[np.ndarray, np.dtype]:
    """Narrowest tables that still contain the splitmask bits."""
    if cfg.avg_bits <= 16:
        return window_tables16(cfg.pol, cfg.window), np.uint16
    if cfg.avg_bits <= 32:
        return window_tables32(cfg.pol, cfg.window), np.uint32
    return window_tables(cfg.pol, cfg.window), np.uint64


def _paired_scan_tables(cfg: ChunkerConfig) -> tuple[np.ndarray, np.dtype]:
    """Byte-paired narrow tables: halves the gather count of the hot scan
    (32 takes per block instead of 64); requires an even window."""
    bits = 16 if cfg.avg_bits <= 16 else (32 if cfg.avg_bits <= 32 else 64)
    t2 = paired_window_tables(cfg.pol, cfg.window, bits)
    return t2, t2.dtype.type


def _block_hits_paired(
    t2: np.ndarray,
    ib: np.ndarray,
    m: int,
    a: np.ndarray,
    tm: np.ndarray,
    pib: np.ndarray,
    mask,
) -> np.ndarray:
    """Splitmask-hit offsets within one block via byte-paired gathers.

    ib holds the block's m + window - 1 bytes as intp; pair index
    pib[x] = ib[x]*256 + ib[x+1]; pair j of the window gathers t2[j] at
    pib[2j : 2j + m]."""
    npairs = t2.shape[0]
    pb = pib[: m + 2 * npairs - 2]
    np.multiply(ib[: pb.shape[0]], 256, out=pb)
    pb += ib[1 : pb.shape[0] + 1]
    np.take(t2[0], pb[:m], out=a, mode="clip")
    for j in range(1, npairs):
        np.take(t2[j], pb[2 * j : 2 * j + m], out=tm, mode="clip")
        a ^= tm
    return np.nonzero((a & mask) == 0)[0]


def _first_candidate(
    data: np.ndarray,
    lo: int,
    limit: int,
    cfg: ChunkerConfig,
    acc: np.ndarray,
    tmp: np.ndarray,
) -> tuple[int, int]:
    """First position q in [lo, limit] with digest & splitmask == 0.

    Blocked windowed-hash evaluation: per block, 64 ``np.take`` gathers into
    a cache-resident uint32 accumulator (allocation-free via ``out=``; the
    splitmask lives in the low 32 bits), reduced to the first mask hit whose
    exact 64-bit digest is then recomputed point-wise. Returns (q, digest)
    or (-1, 0). Positions before
    ``lo`` (the min_size pre-skip, chunker.go:140) are never evaluated.
    """
    w = cfg.window
    paired = w % 2 == 0
    if paired:
        t, dt = _paired_scan_tables(cfg)
    else:
        t, dt = _scan_tables(cfg)
    mask = t.dtype.type(cfg.splitmask)
    block = acc.shape[0]
    # np.take converts non-intp index arrays on EVERY call; one up-front
    # uint8->intp copy per block replaces the hidden per-take conversions
    # (+30% solo, and much less allocator/cache churn under contention)
    idxbuf = np.empty(block + w - 1, dtype=np.intp)
    pib = np.empty(block + w - 2, dtype=np.intp) if paired else None
    p = lo
    while p <= limit:
        m = min(block, limit - p + 1)
        a = acc[:m]
        tm = tmp[:m]
        base = p - (w - 1)  # window start for position p
        ib = idxbuf[: m + w - 1]
        np.copyto(ib, data[base : base + m + w - 1])
        if paired:
            hits = _block_hits_paired(t, ib, m, a, tm, pib, mask)
        else:
            np.take(t[0], ib[:m], out=a, mode="clip")
            for j in range(1, w):
                np.take(t[j], ib[j : j + m], out=tm, mode="clip")
                a ^= tm
            hits = np.nonzero((a & mask) == 0)[0]
        if hits.size:
            h = int(hits[0])
            q = p + h
            return q, digest_at(data, q, cfg)
        p += m
    return -1, 0


def digest_at(data: np.ndarray, q: int, cfg: ChunkerConfig) -> int:
    """Windowed digest at one absolute position q (window's last byte)."""
    t = window_tables(cfg.pol, cfg.window)
    w = cfg.window
    win = data[q - w + 1 : q + 1].astype(np.intp)
    return int(np.bitwise_xor.reduce(t[np.arange(w), win]))


def digests_at(data: np.ndarray, qs: np.ndarray, cfg: ChunkerConfig) -> np.ndarray:
    """Windowed digests at many positions in one vectorized pass: gathers
    the (k, window) byte matrix and folds the 64 table lookups across all
    positions at once — O(window) NumPy calls per row, not per cut."""
    t = window_tables(cfg.pol, cfg.window)
    w = cfg.window
    wins = data[qs[:, None] + np.arange(-(w - 1), 1)[None, :]]
    acc = t[0][wins[:, 0]].copy()
    for j in range(1, w):
        acc ^= t[j][wins[:, j]]
    return acc


def _scan_all(arr: np.ndarray, cfg: ChunkerConfig) -> np.ndarray:
    """All mask-hit positions over one contiguous byte array.

    Blocked allocation-free take+xor over every window position, uint32
    accumulators (the splitmask fits in the low 32 bits; exact digests are
    recomputed point-wise at actual cuts only). Used by the batch path,
    where many rows are concatenated and scanned in one pass (cross-row
    windows yield garbage digests at positions the per-row candidate ranges
    never consult).
    """
    n = arr.shape[0]
    w = cfg.window
    paired = w % 2 == 0
    if paired:
        t, dt = _paired_scan_tables(cfg)
    else:
        t, dt = _scan_tables(cfg)
    mask = t.dtype.type(cfg.splitmask)
    if n < w:
        return np.empty(0, dtype=np.int64)
    total = n - w + 1
    block = min(_SCAN_BLOCK, total)
    acc = np.empty(block, dtype=dt)
    tmp = np.empty(block, dtype=dt)
    idxbuf = np.empty(block + w - 1, dtype=np.intp)  # see _first_candidate
    pib = np.empty(block + w - 2, dtype=np.intp) if paired else None
    pos_parts: list[np.ndarray] = []
    for p0 in range(0, total, block):
        m = min(block, total - p0)
        a = acc[:m]
        tm = tmp[:m]
        ib = idxbuf[: m + w - 1]
        np.copyto(ib, arr[p0 : p0 + m + w - 1])
        if paired:
            hits = _block_hits_paired(t, ib, m, a, tm, pib, mask)
        else:
            np.take(t[0], ib[:m], out=a, mode="clip")
            for j in range(1, w):
                np.take(t[j], ib[j : j + m], out=tm, mode="clip")
                a ^= tm
            hits = np.nonzero((a & mask) == 0)[0]
        if hits.size:
            pos_parts.append(hits + (p0 + w - 1))
    if not pos_parts:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(pos_parts)


def _cut_scan(
    n: int,
    cand_pos: np.ndarray,
    arr: np.ndarray,
    data: bytes,
    cfg: ChunkerConfig,
) -> list[Chunk]:
    """Sequential min/max/EOF pass over candidate cut positions.

    ``cand_pos`` holds absolute positions q (index of the window's last
    byte) where ``digest & splitmask == 0``. Digests at chosen cuts (and
    forced cuts / EOF flush) are recomputed point-wise via digest_at — the
    scan itself only keeps positions. Replays the reference's per-chunk
    state machine using only the sparse candidate list.
    """
    w = cfg.window
    # phase 1 — cut positions via a monotonic pointer walk (cut starts only
    # move forward, so one linear pass beats per-chunk binary searches)
    cands = cand_pos.tolist()
    ncand = len(cands)
    ci = 0
    s = 0
    cuts: list[tuple[int, int, int]] = []  # (start, length, fp_pos or -1)
    eof_fp: int | None = None
    while s < n:
        lo = s + cfg.min_size - 1  # first position where add >= min_size
        hi = s + cfg.max_size - 1  # forced-cut position (add == max_size)
        limit = min(hi, n - 1)
        while ci < ncand and cands[ci] < lo:
            ci += 1
        q = cands[ci] if (lo <= limit and ci < ncand and cands[ci] <= limit) else -1
        if q >= 0:
            cuts.append((s, q - s + 1, q))
            s = q + 1
        elif hi <= n - 1:  # force cut at max_size (chunker.go:295)
            cuts.append((s, hi - s + 1, hi))
            s = hi + 1
        else:  # EOF partial chunk (chunker.go:227-239)
            pre = cfg.min_size - w
            hashed = (n - s) - pre
            if hashed >= w:
                cuts.append((s, n - s, n - 1))
            else:
                eof_fp = (
                    1  # digest right after reset = slide(0, 1)
                    if hashed <= 0
                    else partial_digest(cfg.pol, data[s + pre : n], w)
                )
                cuts.append((s, n - s, -1))
            s = n
    # phase 2 — all full-window fingerprints in one vectorized pass
    qs = np.array([c[2] for c in cuts if c[2] >= 0], dtype=np.int64)
    fps = digests_at(arr, qs, cfg) if qs.size else np.empty(0, dtype=np.uint64)
    chunks: list[Chunk] = []
    fi = 0
    for cs, ln, qpos in cuts:
        if qpos >= 0:
            chunks.append(Chunk(cs, ln, int(fps[fi])))
            fi += 1
        else:
            chunks.append(Chunk(cs, ln, eof_fp))
    return chunks


def chunk_bytes(data: bytes, cfg: ChunkerConfig) -> list[Chunk]:
    """Content-defined chunks of ``data`` — reference-equivalent cuts.

    Lazy blocked scan: only positions in each chunk's eligible window
    [start+min_size-1, start+max_size-1] are ever hashed, mirroring the
    reference's pre-skip (chunker.go:250-269) — with default sizing ~1/3 of
    all positions are skipped outright.
    """
    n = len(data)
    if n == 0:
        return []
    arr = np.frombuffer(data, dtype=np.uint8)
    w = cfg.window
    block = min(_SCAN_BLOCK, n)
    _, dt = _scan_tables(cfg)
    acc = np.empty(block, dtype=dt)
    tmp = np.empty(block, dtype=dt)
    chunks: list[Chunk] = []
    s = 0
    while s < n:
        lo = s + cfg.min_size - 1  # first position where add >= min_size
        hi = s + cfg.max_size - 1  # forced-cut position (add == max_size)
        limit = min(hi, n - 1)
        q = -1
        if lo <= limit:
            q, fp = _first_candidate(arr, lo, limit, cfg, acc, tmp)
        if q >= 0:
            chunks.append(Chunk(s, q - s + 1, fp))
            s = q + 1
        elif hi <= n - 1:  # force cut at max_size (chunker.go:295)
            chunks.append(Chunk(s, hi - s + 1, digest_at(arr, hi, cfg)))
            s = hi + 1
        else:  # EOF partial chunk (chunker.go:227-239)
            pre = cfg.min_size - w
            hashed = (n - s) - pre
            if hashed >= w:
                fp = digest_at(arr, n - 1, cfg)
            elif hashed <= 0:
                fp = 1  # digest right after reset = slide(0, 1)
            else:
                fp = partial_digest(cfg.pol, data[s + pre : n], w)
            chunks.append(Chunk(s, n - s, fp))
            s = n
    return chunks


_BATCH_CONCAT_CAP = 256 * MIB  # above this, fall back to per-row scanning


def chunk_batch(payloads: list[bytes], cfg: ChunkerConfig) -> list[list[Chunk]]:
    """Chunk many byte strings in one vectorized pass.

    All payloads are concatenated into a single contiguous buffer and the
    rolling hash is evaluated once over it — one blocked NumPy scan for the
    whole Arrow batch instead of one dispatch per row. Digest windows that
    straddle a row boundary are garbage, but each row's candidate range
    starts at ``row_start + window - 1`` so they are never consulted.
    """
    if not payloads:
        return []
    total = sum(len(p) for p in payloads)
    if total > _BATCH_CONCAT_CAP or len(payloads) == 1:
        return [chunk_bytes(p, cfg) for p in payloads]
    concat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    cand_pos = _scan_all(concat, cfg)
    w = cfg.window
    out: list[list[Chunk]] = []
    start = 0
    for p in payloads:
        n = len(p)
        if n == 0:
            out.append([])
            continue
        end = start + n
        i0 = int(np.searchsorted(cand_pos, start + w - 1))
        i1 = int(np.searchsorted(cand_pos, end))
        out.append(
            _cut_scan(n, cand_pos[i0:i1] - start, concat[start:end], p, cfg)
        )
        start = end
    return out
