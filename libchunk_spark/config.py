"""Pipeline configuration.

The reference scopes all dedup identity by a 32-byte secret whose first 8
bytes are the chunker polynomial (/root/reference/bits/secret.go:12-31) —
"data stored with the same secret" dedups together (command/put.go:64-65).
The analytic target keeps that *config-scoping* idea: every signature,
candidate pair and recall comparison is "at the same shingle/signature
config", pinned by one PipelineConfig object.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from libchunk_spark.chunker.rabin import KIB, MIB, ChunkerConfig

# Affine MinHash permutation constants are derived deterministically from
# this seed — the analog of the reference's fixed test secret
# (bits/types_test.go:25-30).
DEFAULT_SEED = 0x5EC12E7


@dataclass(frozen=True)
class SignatureConfig:
    """MinHash / SimHash / LSH parameters (Broder / Charikar families)."""

    num_perms: int = 128
    bands: int = 32  # rows_per_band = num_perms // bands = 4
    simhash_bits: int = 64
    simhash_blocks: int = 4  # multi-index blocks -> hamming radius blocks-1
    seed: int = DEFAULT_SEED

    def __post_init__(self) -> None:
        if self.num_perms % self.bands != 0:
            raise ValueError("bands must divide num_perms")
        if self.simhash_bits % self.simhash_blocks != 0:
            raise ValueError("simhash_blocks must divide simhash_bits")

    @property
    def rows_per_band(self) -> int:
        return self.num_perms // self.bands


@dataclass(frozen=True)
class PipelineConfig:
    """Full near-dup pipeline config — the 'secret' of the target system.

    chunk:    coarse content-defined chunking for the content-addressable
              chunk index (libchunk put/get/mv semantics).
    shingle:  fine content-defined chunking whose pieces act as the shingle
              set for MinHash/SimHash similarity.
    """

    chunk: ChunkerConfig = field(
        default_factory=lambda: ChunkerConfig(
            min_size=2 * KIB, max_size=64 * KIB, avg_bits=13
        )
    )
    shingle: ChunkerConfig = field(
        default_factory=lambda: ChunkerConfig(min_size=64, max_size=512, avg_bits=6)
    )
    signature: SignatureConfig = field(default_factory=SignatureConfig)
    # exact-Jaccard threshold defining a "duplicate pair" (oracle + recall)
    jaccard_threshold: float = 0.7
    # SimHash blocks larger than this emit star edges around the min file_id
    # instead of all pairs (connectivity-preserving, kills quadratic blowup)
    bucket_pair_cap: int = 64

    @classmethod
    def reference_scale(cls) -> "PipelineConfig":
        """Reference-sized chunking (512 KiB / 8 MiB / 20 bits) for parity
        tests against the golden fixtures."""
        return cls(chunk=ChunkerConfig(), shingle=ChunkerConfig(min_size=512 * KIB, max_size=8 * MIB, avg_bits=20))


# Config sized for the ~300-char driver `documents` rows.
DOCS_CONFIG = PipelineConfig(
    chunk=ChunkerConfig(min_size=64, max_size=256, avg_bits=5),
    shingle=ChunkerConfig(min_size=64, max_size=128, avg_bits=4),
    jaccard_threshold=0.5,
)

# Config for the synthetic source-code corpus (0.5–64 KiB files).
CORPUS_PIPELINE_CONFIG = PipelineConfig(
    chunk=ChunkerConfig(min_size=256, max_size=4 * KIB, avg_bits=9),
    shingle=ChunkerConfig(min_size=64, max_size=512, avg_bits=6),
)
