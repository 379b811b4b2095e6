"""LSH banding → candidate duplicate pairs (MinHash + SimHash paths).

Skew is the central scale problem here (SURVEY.md §4): boilerplate files put
thousands of file_ids into one (band, band_hash) bucket, and a naive
self-join is quadratic in bucket size. MinHash buckets therefore emit star
edges: a bucket of size m only needs m-1 edges to preserve *connectivity* —
every member is linked to the bucket's min file_id. Connected components
over star edges reach exactly the same clusters as over all-pairs edges,
with linear edge count. No bucket can explode. Pair-level consumers that
need explicit pairs use the df-capped key self-join (operators/overlap.py)
or the SimHash path below, whose oversized blocks degrade to star edges and
are counted (`F.observe`), never silently dropped.

Both paths repartition on the band-hash key before grouping (north_rule:
explicit repartitioning on band-hash keys keeps shuffle skew bounded; the
min/count aggregations are partial-agg friendly so skewed buckets combine
map-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libchunk_spark.config import PipelineConfig


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

    Oversized blocks (sz > bucket_pair_cap) degrade to connectivity-preserving
    star edges around the block's min file_id — the same policy as the
    minhash buckets — still subject to the hamming-radius verify.
    A block of 10k near-identical simhashes thus yields 10k-1 edges instead of
    ~5e7 (or, before this fix, zero). Pass a ``pyspark.sql.Observation`` as
    `observation` to count degraded rows (`oversized_rows` /
    `oversized_blocks` metrics recorded when the returned plan executes).
    NB: a pyspark Observation is single-action — don't pass one when the
    result feeds a multi-action consumer like the components loop. Also,
    when the oversized branch is EMPTY, AQE's empty-relation propagation can
    eliminate the CollectMetrics node entirely and Observation.get has
    nothing to read — treat a missing metric as zero degradation.
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
    ).repartition("block", "block_val")
    sized = blocks.join(
        blocks.groupBy("block", "block_val").agg(F.count("*").alias("sz")),
        ["block", "block_val"],
    )
    small = sized.where(F.col("sz") <= cfg.bucket_pair_cap)
    big = sized.where(F.col("sz") > cfg.bucket_pair_cap)
    if observation is not None:
        big = big.observe(
            observation,
            F.count(F.lit(1)).alias("oversized_rows"),
            # DISTINCT aggregates are not allowed in observed metrics;
            # approx_count_distinct (HLL sketch) is, and a ±2% block count
            # is plenty for a degradation signal.
            F.approx_count_distinct(
                F.concat_ws(":", "block", "block_val")
            ).alias("oversized_blocks"),
        )
    l, r = small.alias("l"), small.alias("r")
    pair_cand = (
        l.join(r, ["block", "block_val"])
        .where(F.col("l.file_id") < F.col("r.file_id"))
        .select(
            F.col("l.file_id").alias("a"),
            F.col("r.file_id").alias("b"),
            F.col("l.simhash").alias("sa"),
            F.col("r.simhash").alias("sb"),
        )
    )
    # star fallback: min(struct(file_id, simhash)) carries the rep's simhash
    # through the same partial-agg-friendly groupBy (no second join pass).
    big_reps = big.groupBy("block", "block_val").agg(
        F.min(F.struct("file_id", "simhash")).alias("rep")
    )
    star_cand = (
        big.join(big_reps, ["block", "block_val"])
        .where(F.col("file_id") != F.col("rep.file_id"))
        .select(
            F.col("rep.file_id").alias("a"),
            F.col("file_id").alias("b"),
            F.col("rep.simhash").alias("sa"),
            F.col("simhash").alias("sb"),
        )
    )
    cand = pair_cand.unionByName(star_cand).dropDuplicates(["a", "b"])
    return cand.where(
        F.bit_count(F.expr("sa ^ sb")) <= F.lit(sig.simhash_blocks - 1)
    ).select("a", "b")
