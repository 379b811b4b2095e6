"""LSH banding → candidate duplicate pairs (MinHash + SimHash paths).

Skew is the central scale problem here (SURVEY.md §4): boilerplate files put
thousands of file_ids into one (band, band_hash) bucket, and a naive
self-join is quadratic in bucket size. MinHash buckets therefore emit star
edges: a bucket of size m only needs m-1 edges to preserve *connectivity* —
every member is linked to the bucket's min file_id. Connected components
over star edges reach exactly the same clusters as over all-pairs edges,
with linear edge count. No bucket can explode. Pair-level consumers that
need explicit pairs use the df-capped key self-join (operators/overlap.py)
or the SimHash path below, whose blocks run through the capped-bucket
kernel `overlap.capped_star_pairs`: oversized blocks degrade to star edges
and are counted (`F.observe`), never silently dropped.

Both paths hash-partition on the band key before grouping, which keeps
shuffle skew bounded; the min/count aggregations are partial-agg friendly,
so skewed buckets combine map-side. The MinHash path repartitions
explicitly (`band_rows`); the SimHash path's block sizing is a window
count over the block key, whose one exchange is that partitioning and is
reused by the pair join and the star join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libchunk_spark.config import PipelineConfig
from libchunk_spark.operators.overlap import capped_star_pairs


def band_rows(signatures: DataFrame) -> DataFrame:
    """Exploded LSH band rows: (band, band_hash, file_id)."""
    return signatures.select(
        "file_id", F.posexplode("bands").alias("band", "band_hash")
    ).repartition("band", "band_hash")


def minhash_candidate_edges(signatures: DataFrame) -> DataFrame:
    """Candidate dup edges (a, b), a < b: star edges from every MinHash LSH
    bucket to its min file_id."""
    rows = band_rows(signatures)
    reps = rows.groupBy("band", "band_hash").agg(
        F.min("file_id").alias("rep"), F.count("*").alias("sz")
    )
    return (
        rows.join(reps.where(F.col("sz") > 1), ["band", "band_hash"])
        .where(F.col("file_id") != F.col("rep"))
        .select(F.col("rep").alias("a"), F.col("file_id").alias("b"))
        .dropDuplicates(["a", "b"])
    )


def simhash_candidate_edges(
    signatures: DataFrame,
    cfg: PipelineConfig,
    observation=None,
) -> DataFrame:
    """Fuzzy-dup edges from SimHash multi-index blocks + hamming filter.

    64-bit simhash split into `simhash_blocks` equal blocks; files equal in
    >=1 block are candidates (pigeonhole: hamming <= blocks-1 is guaranteed
    found); candidates are verified with bit_count(a^b) <= blocks-1 JVM-side.

    Blocks go through `overlap.capped_star_pairs`: a block with more than
    `bucket_pair_cap` files degrades to connectivity-preserving star edges
    around its min file_id, still subject to the hamming-radius verify.
    A block of 10k near-identical simhashes thus yields 10k-1 edges instead
    of ~5e7, and none is silently dropped. Pass a
    ``pyspark.sql.Observation`` as `observation` to count degraded rows
    (`oversized_rows` / `oversized_blocks`); the kernel's docstring has the
    single-action and empty-branch caveats.
    """
    sig = cfg.signature
    width = sig.simhash_bits // sig.simhash_blocks
    mask = (1 << width) - 1
    blocks = signatures.select(
        "file_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"(simhash >> {i * width}) & {mask}")
                    for i in range(sig.simhash_blocks)
                ]
            )
        ).alias("block", "block_val"),
    )
    cand = capped_star_pairs(
        blocks,
        "file_id",
        ["block", "block_val"],
        "simhash",
        cfg.bucket_pair_cap,
        observation,
    )
    return cand.where(
        F.bit_count(F.expr("ca ^ cb")) <= F.lit(sig.simhash_blocks - 1)
    ).select("a", "b")
