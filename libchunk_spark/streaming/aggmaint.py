"""Incremental aggregation maintenance (materialized-view pattern):
a corpus-global n-gram document-frequency table maintained under a
stream, as batch-keyed DELTA partitions plus periodic COMPACTION — the
streaming twin of queries.q_top_ngrams (Lee et al. frequency mining).

This is a different streaming shape from the repo's other operators
(windowed aggs, stateful sessionization, stream-static joins, cluster
maintenance): an UNWINDOWED global aggregate kept current without ever
re-reading history per trigger.

State layout under `state_dir`:
  deltas/batch=<id>/   (ngram, n_docs) distinct-doc counts of that batch
  base/upto=<id>/      compacted totals covering all batches <= id

Per trigger (cost O(batch), never O(history)):
  1. queries.ngram_doc_counts(batch) — the batch query's own distinct
     (doc, gram) -> groupBy gram count: map-side explode + ONE
     partial-agg shuffle on the gram key;
  2. the delta OVERWRITES deltas/batch=<id> — an at-least-once replay
     rewrites the same partition (idempotent, the repo's standard
     batch-keyed-write discipline);
  3. every `compact_every` batches, newest base (upto < id) + deltas in
     (upto, id] fold into base/upto=<id> (groupBy sum). Compaction never
     deletes deltas — a replayed compaction re-reads exactly the same
     inputs and overwrites the same base partition, so it is idempotent
     too. Garbage collection is explicit (`vacuum_deltas`): only deltas
     covered by the SECOND-newest base are removed, because the newest
     base's compaction may still be replayed and must find its inputs.

Reader (`read_topgrams`): newest base + deltas above it -> groupBy sum
-> deterministic (count desc, gram asc) top-n. Deltas at or below the
base's upto are EXCLUDED by the batch filter, so a crash between base
commit and anything else can never double-count.

Counting assumption (stated, tested): each document arrives in exactly
one micro-batch (file streams deliver a file once), so per-batch
DISTINCT-doc counts sum to the global distinct-doc count.

Scale: the base rewrite is O(vocabulary) every compact_every batches —
amortized O(vocab/compact_every) per trigger, against the naive
alternatives of either rewriting O(vocab) per trigger or making readers
sum O(#batches) delta files. Both knobs are explicit.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from libchunk_spark.streaming.ingest import CORPUS_SCHEMA


def _committed(root: str, pattern: str) -> list[int]:
    """Partition ids under root whose directory carries Spark's _SUCCESS
    marker — an in-flight or crashed write is INVISIBLE to readers
    (ADVICE r06: treating any upto=/batch= directory as committed let a
    reader racing a compaction pick a half-written base as newest and
    fail or undercount until the replay repaired it)."""
    if not os.path.isdir(root):
        return []
    out = []
    for d in os.listdir(root):
        m = re.fullmatch(pattern, d)
        if m and os.path.exists(os.path.join(root, d, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def _base_uptos(state_dir: str) -> list[int]:
    return _committed(os.path.join(state_dir, "base"), r"upto=(\d+)")


def _delta_batches(state_dir: str) -> list[int]:
    return _committed(os.path.join(state_dir, "deltas"), r"batch=(\d+)")


def _totals(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Newest base + deltas above it, summed. None when no state yet."""
    uptos = _base_uptos(state_dir)
    parts = []
    upto = -1
    if uptos:
        upto = uptos[-1]
        parts.append(
            spark.read.parquet(os.path.join(state_dir, f"base/upto={upto}"))
        )
    for b in _delta_batches(state_dir):
        if b > upto:
            parts.append(
                spark.read.parquet(os.path.join(state_dir, f"deltas/batch={b}"))
            )
    if not parts:
        return None
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df.groupBy("ngram").agg(F.sum("n_docs").cast("long").alias("n_docs"))


def read_topgrams(spark: SparkSession, state_dir: str, n: int = 20) -> DataFrame:
    """Current top-n repeated n-grams — same deterministic ordering as
    q_top_ngrams (count desc, gram asc)."""
    totals = _totals(spark, state_dir)
    if totals is None:
        return spark.createDataFrame([], "ngram string, n_docs long")
    return totals.orderBy(F.desc("n_docs"), F.asc("ngram")).limit(n)


def vacuum_deltas(state_dir: str) -> list[int]:
    """Remove delta partitions covered by the SECOND-newest base (the
    newest base's compaction may still replay and needs its inputs).
    Returns the removed batch ids."""
    uptos = _base_uptos(state_dir)
    if len(uptos) < 2:
        return []
    safe_upto = uptos[-2]
    removed = []
    for b in _delta_batches(state_dir):
        if b <= safe_upto:
            shutil.rmtree(os.path.join(state_dir, f"deltas/batch={b}"))
            removed.append(b)
    return removed


# --------------------------------------------------------------------------
# Directory-Merkle maintenance: the streaming twin of queries.q_dir_merkle.
#
# A Merkle root is an ORDERED hash — not additively mergeable like the gram
# counts above — so the maintained state is the FILE level:
#   files/batch=<id>/dbucket=<k>/   (source, dirname, doc_id, h) rows
# batch-keyed outer partition for replay idempotence (overwrite), dbucket
# inner partition (hash of the directory key, N_DIR_BUCKETS) so a trigger's
# recompute READS ONLY the buckets its touched directories hash into —
# file-level pruning, the same layout discipline as the streaming band
# index (ingest.py::_write_band_partition).
#
# Per trigger: O(batch) write + O(files in touched dirs) recompute — never
# O(corpus). Touched roots overwrite roots/batch=<id>; the reader takes the
# NEWEST root per directory (untouched dirs keep their older, still-valid
# roots). On an at-least-once replay the same partitions are overwritten
# from the same inputs (files/ holds only batches <= id at that point).
#
# Same arrival assumption as the gram counts: each document arrives in
# exactly one micro-batch. files/ is append-only per-batch state; at very
# long stream lifetimes it compacts by the base/delta discipline above
# (fold batches <= id into one partition per dbucket) — not needed at test
# scale, the reader never touches files/.
# --------------------------------------------------------------------------

DOCS_STREAM_SCHEMA = "doc_id long, text string, source string"
N_DIR_BUCKETS = 64


def _dir_files(batch: DataFrame, fanout: int) -> DataFrame:
    dirname = (F.col("doc_id") % fanout).alias("dirname")
    return batch.select(
        "source",
        dirname,
        "doc_id",
        F.sha2("text", 256).alias("h"),
        F.pmod(
            F.xxhash64("source", F.col("doc_id") % fanout), F.lit(N_DIR_BUCKETS)
        ).alias("dbucket"),
    )


def _touched_roots(
    ss: SparkSession,
    files_root: str,
    touched_keys: list[tuple[str, int]],
    buckets: list[int],
    upto_batch: int,
) -> DataFrame:
    """Recompute the Merkle roots of exactly the touched directories from
    the files store: dbucket partition pruning narrows the scan to the
    touched buckets, a broadcast semi-join narrows rows to the touched
    keys, and the batch<=id filter keeps a replayed trigger deterministic."""
    from libchunk_spark.queries import merkle_root_agg

    tk = ss.createDataFrame(
        sorted(set(touched_keys)), "source string, dirname long"
    )
    hist = (
        ss.read.parquet(files_root)
        .where(F.col("dbucket").isin([int(b) for b in buckets]))
        .where(F.col("batch") <= upto_batch)
    )
    return (
        hist.join(F.broadcast(tk), ["source", "dirname"], "left_semi")
        .groupBy("source", "dirname")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            merkle_root_agg().alias("merkle"),
        )
    )


def read_dir_merkle(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current per-directory Merkle roots: the newest root each directory
    ever got (untouched directories carry forward)."""
    from pyspark.sql import Window

    root = os.path.join(state_dir, "roots")
    if not os.path.isdir(root):
        return spark.createDataFrame(
            [], "source string, dirname long, n_files long, merkle string"
        )
    w = Window.partitionBy("source", "dirname").orderBy(F.desc("batch"))
    return (
        spark.read.parquet(root)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", "dirname", "n_files", "merkle")
    )


def start_dir_merkle_maintenance(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    fanout: int | None = None,
):
    """Stream documents-shaped parquet from source_dir, maintaining
    per-directory Merkle roots (block comment above). Returns the
    StreamingQuery (availableNow trigger)."""
    if fanout is None:
        from libchunk_spark.queries import DIR_FANOUT

        fanout = DIR_FANOUT
    files_root = os.path.join(state_dir, "files")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        ss = batch.sparkSession
        files = _dir_files(batch, fanout).localCheckpoint()
        files.write.mode("overwrite").partitionBy("dbucket").parquet(
            os.path.join(files_root, f"batch={batch_id}")
        )
        touched = files.select("source", "dirname", "dbucket").distinct().collect()
        roots = _touched_roots(
            ss,
            files_root,
            [(r["source"], r["dirname"]) for r in touched],
            sorted({r["dbucket"] for r in touched}),
            batch_id,
        )
        roots.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"roots/batch={batch_id}")
        )

    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_topgrams_maintenance(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    compact_every: int = 4,
    text_col: str = "content",
):
    """Stream corpus parquet files from source_dir, maintaining the
    global gram-count state (module docstring). Returns the
    StreamingQuery (availableNow trigger)."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        from libchunk_spark.queries import ngram_doc_counts

        ss = batch.sparkSession
        delta = ngram_doc_counts(batch, text_col)
        delta.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"deltas/batch={batch_id}")
        )
        if (batch_id + 1) % compact_every == 0:
            # deterministic inputs on replay: newest base STRICTLY below
            # this batch id + the deltas in between
            uptos = [u for u in _base_uptos(state_dir) if u < batch_id]
            parts = []
            upto = -1
            if uptos:
                upto = uptos[-1]
                parts.append(
                    ss.read.parquet(os.path.join(state_dir, f"base/upto={upto}"))
                )
            for b in _delta_batches(state_dir):
                if upto < b <= batch_id:
                    parts.append(
                        ss.read.parquet(
                            os.path.join(state_dir, f"deltas/batch={b}")
                        )
                    )
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            (
                df.groupBy("ngram")
                .agg(F.sum("n_docs").cast("long").alias("n_docs"))
                .write.mode("overwrite")
                .parquet(os.path.join(state_dir, f"base/upto={batch_id}"))
            )

    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# --------------------------------------------------------------- passages

PASSAGE_SBUCKETS = 64  # sha-index sub-partitions (file-prune the probe)


def start_passage_maintenance(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Maintain the content-addressed RAG passage table under a documents
    stream — the streaming twin of queries.q_passage_windows, plus the
    first-seen sha delta an incremental EMBEDDING scheduler consumes
    (queries.q_passage_delta is the batch form of that delta).

    State layout under `state_dir`:
      passages/batch=<id>/            the batch docs' passage rows
      sha_index/batch=<id>/sbucket=<k>/  FIRST-SEEN shas of that batch
                                         (the maintained dedup index)
      new_shas/batch=<id>/            same rows, reader-friendly copy

    Per trigger (cost O(batch) + a file-pruned index probe, never
    O(history) shuffle):
      1. passages_of(batch) — map-only (the batch query's exact
         expression, so maintained == batch by construction);
      2. the batch's distinct shas anti-join the sha index, with the
         index scan restricted to (batch < id) AND (sbucket IN the <= 64
         buckets the batch's shas hash into) — partition-level file
         pruning, the same discipline as ingest's band index;
      3. all three writes are batch-keyed overwrites (idempotent under
         at-least-once replay: the replayed anti-join reads batch < id,
         which excludes its own previous partial write, so it recomputes
         the identical first-seen set).

    An embedding pipeline tails new_shas/ and embeds exactly those rows;
    unchanged passages keep their embeddings by sha — libchunk's
    indexed-move skip (/root/reference/bits/move.go) at passage
    granularity. Returns the StreamingQuery (availableNow trigger).
    """
    passages_root = os.path.join(state_dir, "passages")
    index_root = os.path.join(state_dir, "sha_index")
    new_root = os.path.join(state_dir, "new_shas")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        from libchunk_spark.queries import passages_of

        ss = batch.sparkSession
        p = passages_of(batch).localCheckpoint()
        p.write.mode("overwrite").parquet(
            os.path.join(passages_root, f"batch={batch_id}")
        )
        shas = (
            p.select("passage_sha")
            .distinct()
            .withColumn(
                "sbucket",
                F.pmod(F.xxhash64("passage_sha"), F.lit(PASSAGE_SBUCKETS)).cast(
                    "int"
                ),
            )
            .localCheckpoint()
        )
        buckets = sorted(
            r["sbucket"] for r in shas.select("sbucket").distinct().collect()
        )
        new = shas
        if os.path.isdir(index_root) and any(
            e.startswith("batch=") for e in os.listdir(index_root)
        ):
            hist = (
                ss.read.parquet(index_root)
                .where(F.col("batch") < batch_id)
                .where(F.col("sbucket").isin(buckets))
                .select("passage_sha")
            )
            new = shas.join(hist, "passage_sha", "left_anti")
        new = new.localCheckpoint()
        new.write.mode("overwrite").partitionBy("sbucket").parquet(
            os.path.join(index_root, f"batch={batch_id}")
        )
        new.select("passage_sha").write.mode("overwrite").parquet(
            os.path.join(new_root, f"batch={batch_id}")
        )

    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_passages(spark: SparkSession, state_dir: str) -> DataFrame:
    """All maintained passage rows (batch partition column dropped)."""
    return spark.read.parquet(os.path.join(state_dir, "passages")).drop("batch")


def read_new_shas(spark: SparkSession, state_dir: str) -> DataFrame:
    """(batch, passage_sha) — the per-trigger first-seen sha deltas, in
    embedding-scheduler order."""
    return spark.read.parquet(os.path.join(state_dir, "new_shas")).select(
        "batch", "passage_sha"
    )
