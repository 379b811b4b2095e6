"""Incremental aggregation maintenance (streaming/aggmaint.py): the
maintained gram-count state must equal the batch answer after any number
of triggers, survive restarts, compact, and vacuum safely."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from libchunk_spark.fixtures import corpus_to_spark, generate_corpus
from libchunk_spark.queries import ngram_doc_counts
from libchunk_spark.streaming.aggmaint import (
    _base_uptos,
    _delta_batches,
    read_topgrams,
    start_topgrams_maintenance,
    vacuum_deltas,
)


def _batch_top(spark, df, n=20):
    """Top grams by the registry's own definition (the q_top_ngrams core)."""
    return [
        (r["ngram"], r["n_docs"])
        for r in ngram_doc_counts(df, "content")
        .orderBy(F.desc("n_docs"), F.asc("ngram"))
        .limit(n)
        .collect()
    ]


def _stream_top(spark, state, n=20):
    return [
        (r["ngram"], r["n_docs"]) for r in read_topgrams(spark, state, n).collect()
    ]


def test_maintained_topgrams_equal_batch_and_survive_restart(spark, tmp_path):
    src = str(tmp_path / "incoming")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    rows = generate_corpus(n_files=60, seed=21)
    df = corpus_to_spark(spark, rows).select(
        "file_id", "repo", "path", "commit", "lang", "content"
    )
    # 6 single-file source drops -> 6 micro-batches (maxFilesPerTrigger=1)
    for i in range(6):
        df.where(
            (F.col("file_id") % 6 == i)
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/part{i}")

    q = start_topgrams_maintenance(spark, f"{src}/*", state, ckpt, compact_every=3)
    q.awaitTermination(180)

    full = df
    assert _stream_top(spark, state) == _batch_top(spark, full)
    # compaction fired (6 batches, compact_every=3 -> bases at 2 and 5)
    assert _base_uptos(state), "no compaction happened"

    # restart with NEW files only: state folds them in, still == batch
    df2 = (
        corpus_to_spark(spark, generate_corpus(n_files=20, seed=22))
        .select("file_id", "repo", "path", "commit", "lang", "content")
        .withColumn("file_id", F.col("file_id") + 10_000)
    )
    df2.coalesce(1).write.mode("overwrite").parquet(f"{src}/part_new")
    q = start_topgrams_maintenance(spark, f"{src}/*", state, ckpt, compact_every=3)
    q.awaitTermination(180)
    assert _stream_top(spark, state) == _batch_top(spark, full.unionByName(df2))


def test_vacuum_preserves_answer(spark, tmp_path):
    src = str(tmp_path / "incoming")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    df = corpus_to_spark(spark, generate_corpus(n_files=48, seed=23)).select(
        "file_id", "repo", "path", "commit", "lang", "content"
    )
    for i in range(8):
        df.where(F.col("file_id") % 8 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/part{i}")
    q = start_topgrams_maintenance(spark, f"{src}/*", state, ckpt, compact_every=3)
    q.awaitTermination(180)

    before = _stream_top(spark, state)
    uptos = _base_uptos(state)
    assert len(uptos) >= 2, uptos  # bases at 2 and 5 (8 batches)
    removed = vacuum_deltas(state)
    # only deltas covered by the SECOND-newest base may go
    assert removed and all(b <= uptos[-2] for b in removed)
    assert _stream_top(spark, state) == before
    # deltas above the newest base survive (they are the live tail)
    assert all(b > uptos[-2] for b in _delta_batches(state))


# ---------------------------------------------------------- dir-Merkle twin


def _docs_df(spark, n, seed, id_offset=0):
    """documents-shaped frame with planted exact duplicates (every 5th doc
    repeats doc 0's text) spread over sources/dirs."""
    rows = [
        (
            i + id_offset,
            f"text body {seed} {'shared' if i % 5 == 0 else i}",
            f"src{i % 3}",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _merkle_rows(df):
    return sorted(
        (r["source"], r["dirname"], r["n_files"], r["merkle"])
        for r in df.collect()
    )


def _batch_merkle(spark, docs, tmp_path, tag):
    """q_dir_merkle on the accumulated corpus (written as a documents
    table), projected to the maintained columns."""
    from libchunk_spark import queries as Q

    sf = str(tmp_path / f"batchview_{tag}")
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    return _merkle_rows(
        Q.q_dir_merkle(spark, sf).select("source", "dirname", "n_files", "merkle")
    )


def test_maintained_dir_merkle_equals_batch_and_survives_restart(
    spark, tmp_path
):
    from libchunk_spark.streaming.aggmaint import (
        read_dir_merkle,
        start_dir_merkle_maintenance,
    )

    src = str(tmp_path / "incoming")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    docs = _docs_df(spark, 60, seed=31)
    for i in range(5):
        docs.where(F.col("doc_id") % 5 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/part{i}")

    q = start_dir_merkle_maintenance(spark, f"{src}/*", state, ckpt)
    q.awaitTermination(180)
    assert _merkle_rows(read_dir_merkle(spark, state)) == _batch_merkle(
        spark, docs, tmp_path, "a"
    )

    # restart folding NEW docs in: touched dirs re-root, untouched dirs
    # carry forward, and the answer still equals the batch query
    docs2 = _docs_df(spark, 12, seed=32, id_offset=10_000)
    docs2.coalesce(1).write.mode("overwrite").parquet(f"{src}/part_new")
    q = start_dir_merkle_maintenance(spark, f"{src}/*", state, ckpt)
    q.awaitTermination(180)
    assert _merkle_rows(read_dir_merkle(spark, state)) == _batch_merkle(
        spark, docs.unionByName(docs2), tmp_path, "b"
    )


def test_dir_merkle_recompute_prunes_untouched_buckets(spark, tmp_path):
    """The per-trigger recompute must read ONLY the dbucket partitions the
    batch touched: PartitionFilters on dbucket at the files scan, batch
    keys broadcast (semi-join) rather than shuffling the store, and the
    root recompute touches no text column (file-level state only)."""
    from libchunk_spark.streaming.aggmaint import (
        _dir_files,
        _touched_roots,
    )

    files_root = str(tmp_path / "files")
    all_files = _dir_files(_docs_df(spark, 60, seed=33), 16)
    all_files.write.partitionBy("dbucket").parquet(f"{files_root}/batch=0")

    batch = _dir_files(_docs_df(spark, 4, seed=34, id_offset=200), 16)
    touched = batch.select("source", "dirname", "dbucket").distinct().collect()
    keys = [(r["source"], r["dirname"]) for r in touched]
    buckets = sorted({r["dbucket"] for r in touched})
    assert len(buckets) < 16  # pruning is real: most buckets untouched
    roots = _touched_roots(spark, files_root, keys, buckets, upto_batch=0)
    plan = roots._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dbucket" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "text" not in plan, plan
    got = {(r["source"], r["dirname"]) for r in roots.collect()}
    assert got == set(keys)


def test_maintained_passages_equal_batch_and_first_seen_deltas(
    spark, tmp_path
):
    """Passage maintenance: the maintained table equals passages_of over
    the full corpus after any number of triggers AND after a restart with
    new files; the per-batch new_shas are a disjoint partition of the
    corpus's distinct shas (first-seen only — the embedding scheduler's
    work list never repeats a sha)."""
    from libchunk_spark.queries import passages_of
    from libchunk_spark.streaming.aggmaint import (
        read_new_shas,
        read_passages,
        start_passage_maintenance,
    )

    def rows(df):
        return sorted(
            (r["doc_id"], r["passage_idx"], r["start_token"],
             r["passage_tokens"], r["passage_sha"])
            for r in df.collect()
        )

    src = str(tmp_path / "incoming")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    # long texts -> multiple passages per doc; every 4th doc repeats doc
    # 0's text so shas repeat ACROSS batches (exercises first-seen)
    docs = spark.createDataFrame(
        [
            (
                i,
                " ".join(
                    f"w{(0 if i % 4 == 0 else i)}_{j}" for j in range(150)
                ),
                f"src{i % 3}",
            )
            for i in range(40)
        ],
        "doc_id long, text string, source string",
    )
    for i in range(4):
        docs.where(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/part{i}")

    q = start_passage_maintenance(spark, f"{src}/*", state, ckpt)
    q.awaitTermination(180)
    assert rows(read_passages(spark, state)) == rows(passages_of(docs))

    new = read_new_shas(spark, state)
    per_batch = new.groupBy("passage_sha").count()
    assert per_batch.where("count > 1").count() == 0  # disjoint deltas
    n_distinct = (
        passages_of(docs).select("passage_sha").distinct().count()
    )
    assert new.count() == n_distinct  # partition covers every sha once

    # restart with new docs: maintained == batch on the grown corpus and
    # only genuinely-new shas join the work list
    docs2 = spark.createDataFrame(
        [
            (10_000 + i, " ".join(f"n{i}_{j}" for j in range(100)), "srcN")
            for i in range(6)
        ]
        + [(10_100, " ".join(f"w0_{j}" for j in range(150)), "srcN")],
        "doc_id long, text string, source string",
    )  # 10_100 repeats doc 0's text: contributes NO new shas
    docs2.coalesce(1).write.mode("overwrite").parquet(f"{src}/part_new")
    q = start_passage_maintenance(spark, f"{src}/*", state, ckpt)
    q.awaitTermination(180)
    full = docs.unionByName(docs2)
    assert rows(read_passages(spark, state)) == rows(passages_of(full))
    new2 = read_new_shas(spark, state)
    assert new2.groupBy("passage_sha").count().where("count > 1").count() == 0
    assert (
        new2.count()
        == passages_of(full).select("passage_sha").distinct().count()
    )


def test_passage_index_probe_prunes_sbuckets(spark, tmp_path):
    """The anti-join's history read must carry PartitionFilters on both
    batch (< id) and sbucket (IN the batch's buckets) — file-level
    pruning, not a full index scan per trigger."""
    import os as _os

    from libchunk_spark.queries import passages_of
    from libchunk_spark.streaming.aggmaint import PASSAGE_SBUCKETS

    index_root = str(tmp_path / "sha_index")
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(80)), "s") for i in range(40)],
        "doc_id long, text string, source string",
    )
    shas = (
        passages_of(docs)
        .select("passage_sha")
        .distinct()
        .withColumn(
            "sbucket",
            F.pmod(F.xxhash64("passage_sha"), F.lit(PASSAGE_SBUCKETS)).cast("int"),
        )
    )
    shas.write.partitionBy("sbucket").parquet(f"{index_root}/batch=0")
    probe = (
        passages_of(docs.limit(2))
        .select("passage_sha")
        .distinct()
        .withColumn(
            "sbucket",
            F.pmod(F.xxhash64("passage_sha"), F.lit(PASSAGE_SBUCKETS)).cast("int"),
        )
    )
    buckets = sorted(r["sbucket"] for r in probe.select("sbucket").distinct().collect())
    assert len(buckets) < PASSAGE_SBUCKETS  # pruning is real
    hist = (
        spark.read.parquet(index_root)
        .where(F.col("batch") < 1)
        .where(F.col("sbucket").isin(buckets))
        .select("passage_sha")
    )
    plan = hist._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "sbucket" in plan, plan
    got = probe.join(hist, "passage_sha", "left_anti").count()
    assert got == 0  # every probe sha already indexed


def test_fold_new_shas_into_index_idempotent(spark, tmp_path):
    """The scheduled half of the embedding loop: fold the passage
    maintainer's first-seen work lists into the persisted IVFADC index —
    first call builds, later calls extend, the ledger makes re-runs
    no-ops, and index coverage equals exactly the distinct corpus shas
    (each embedded once)."""
    import os

    from pyspark.sql import functions as F

    from libchunk_spark.operators.embmaint import (
        fold_new_shas_into_index,
        sha_vec_id,
        stub_embed,
    )
    from libchunk_spark.streaming.aggmaint import (
        read_new_shas,
        start_passage_maintenance,
    )

    src = str(tmp_path / "incoming")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "idx")
    os.makedirs(src)
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(0 if i % 4 == 0 else i)}_{j}" for j in range(150)),
             f"src{i % 3}")
            for i in range(24)
        ],
        "doc_id long, text string, source string",
    )
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/part{i}")
    start_passage_maintenance(spark, f"{src}/*", state, ckpt).awaitTermination(180)

    kw = dict(m=4, n_codes=8, n_cells=2)
    res = fold_new_shas_into_index(
        spark, state, idx, dim=16, build_kwargs=kw
    )
    new = read_new_shas(spark, state)
    assert res["n_added"] == new.count() > 0
    assert len(res["folded_batches"]) >= 2  # maxFilesPerTrigger=1 -> >=3 batches

    # coverage: the index holds EXACTLY the first-seen shas' vec ids —
    # each at most once per cell (index_probe=2 soft assignment multi-
    # assigns ACROSS cells by design; a duplicate append would repeat a
    # (vec_id, cell) pair)
    want_ids = sorted(
        r[0] for r in new.select(sha_vec_id(F.col("passage_sha"))).collect()
    )
    codes = spark.read.parquet(os.path.join(idx, "codes"))
    assert (
        sorted(r["vec_id"] for r in codes.select("vec_id").distinct().collect())
        == want_ids
    )
    assert codes.groupBy("vec_id", "cell").count().where("count > 1").count() == 0

    # replay safety: a second fold is a no-op
    n_rows = codes.count()
    res2 = fold_new_shas_into_index(spark, state, idx, dim=16, build_kwargs=kw)
    assert res2 == {"folded_batches": [], "n_added": 0}
    assert spark.read.parquet(os.path.join(idx, "codes")).count() == n_rows

    # new stream data -> only the new batch folds, under the frozen arrays
    docs2 = spark.createDataFrame(
        [(900 + i, " ".join(f"z{i}_{j}" for j in range(120)), "srcZ")
         for i in range(4)],
        "doc_id long, text string, source string",
    )
    docs2.coalesce(1).write.mode("overwrite").parquet(f"{src}/part_new")
    start_passage_maintenance(spark, f"{src}/*", state, ckpt).awaitTermination(180)
    res3 = fold_new_shas_into_index(spark, state, idx, dim=16, build_kwargs=kw)
    assert res3["n_added"] > 0 and len(res3["folded_batches"]) >= 1
    n_all = read_new_shas(spark, state).count()
    assert spark.read.parquet(os.path.join(idx, "codes")).select(
        "vec_id"
    ).distinct().count() == n_all
    # the folded vectors are retrievable end-to-end
    from libchunk_spark.operators.ann_index import index_topk

    q = stub_embed(
        read_new_shas(spark, state).select("passage_sha").limit(3), 16
    )
    assert index_topk(spark, idx, q, k=3).count() > 0
