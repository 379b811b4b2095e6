"""Resumability: kill after stage k, rerun, identical final output
(BASELINE.md resumability row; north_rule checkpoint contract)."""

from __future__ import annotations

import json
import os

import pytest

from libchunk_spark.config import CORPUS_PIPELINE_CONFIG as CFG
from libchunk_spark.config import PipelineConfig
from libchunk_spark.fixtures import corpus_to_spark, generate_corpus
from libchunk_spark.pipeline import run_pipeline
from libchunk_spark.sources.catalog import StageCatalog, config_fingerprint


@pytest.fixture(scope="module")
def corpus(spark):
    return corpus_to_spark(spark, generate_corpus(n_files=80, seed=5)).cache()


def test_full_run_then_resume_skips_all(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ckpt"))
    cat = StageCatalog(root=root)
    r1 = run_pipeline(corpus, CFG, cat, with_containment=False)
    first = sorted((r["file_id"], r["component"]) for r in r1.components.collect())
    assert r1.stages_run and not r1.stages_skipped

    # second run: everything must come from checkpoints, same answer
    cat2 = StageCatalog(root=root)
    r2 = run_pipeline(corpus, CFG, cat2, with_containment=False)
    assert not r2.stages_run
    assert set(r2.stages_skipped) == set(r1.stages_run)
    second = sorted((r["file_id"], r["component"]) for r in r2.components.collect())
    assert first == second


def test_partial_checkpoint_resume(spark, corpus, tmp_path_factory):
    """Simulate a crash after 'signatures': delete later checkpoints, rerun."""
    import shutil

    root = str(tmp_path_factory.mktemp("ckpt"))
    cat = StageCatalog(root=root)
    r1 = run_pipeline(corpus, CFG, cat, with_containment=False)
    first = sorted((r["file_id"], r["component"]) for r in r1.components.collect())

    for late in ["cand_pairs", "components"]:
        shutil.rmtree(os.path.join(root, late))

    r2 = run_pipeline(corpus, CFG, StageCatalog(root=root), with_containment=False)
    assert set(r2.stages_run) == {"cand_pairs", "components"}
    assert "signatures" in r2.stages_skipped
    second = sorted((r["file_id"], r["component"]) for r in r2.components.collect())
    assert first == second


def test_config_change_invalidates_checkpoints(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ckpt"))
    run_pipeline(corpus, CFG, StageCatalog(root=root), with_containment=False)
    from dataclasses import replace

    cfg2 = replace(CFG, jaccard_threshold=0.9)
    assert config_fingerprint(cfg2) != config_fingerprint(CFG)
    r2 = run_pipeline(corpus, cfg2, StageCatalog(root=root), with_containment=False)
    assert r2.stages_run  # stale-fingerprint checkpoints recomputed


def test_fused_stage_scans_content_once(spark, corpus, tmp_path_factory):
    """VERDICT r03 item 2: the put path is one fused content pass — the
    catalog holds a `fused` stage and no separately-checkpointed `chunks`
    stage (which would re-write every payload byte)."""
    root = str(tmp_path_factory.mktemp("ckpt_fused"))
    cat = StageCatalog(root=root)
    r = run_pipeline(corpus, CFG, cat, with_containment=False)
    assert "fused" in r.stages_run
    assert "chunks" not in r.stages_run
    assert os.path.isdir(os.path.join(root, "fused"))
    assert not os.path.isdir(os.path.join(root, "chunks"))
    # chunk payloads survive the fused layout (content-addressable store)
    assert "chunk" in r.chunk_index.columns
    row = r.chunk_index.where("length > 0").first()
    import hashlib

    assert hashlib.sha256(bytes(row["chunk"])).hexdigest() == row["k"]


def test_pipeline_empty_corpus(spark, tmp_path_factory):
    """A corpus partition with zero files (e.g. after a lang filter) must
    flow through every stage without error and yield empty outputs."""
    root = str(tmp_path_factory.mktemp("ckpt_empty"))
    empty = spark.createDataFrame(
        [],
        "file_id long, repo string, path string, commit string, "
        "lang string, content string",
    )
    r = run_pipeline(empty, CFG, StageCatalog(root=root), with_containment=True)
    assert r.components.count() == 0
    assert r.chunk_index.count() == 0
    assert r.edges.count() == 0


def _iceberg_jar_present() -> bool:
    import glob

    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    return bool(glob.glob(os.path.join(jars, "*iceberg*.jar")))


def test_merge_append_idempotent_parquet(spark, tmp_path_factory):
    """MERGE-INTO analog (bits.Store.Put idempotency, bits/bits.go:51-52):
    re-merging the same batch adds nothing; new keys append."""
    root = str(tmp_path_factory.mktemp("merge"))
    cat = StageCatalog(root=root)
    fp = "fp0"
    b1 = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], "k long, v string")
    out = cat.merge_append("chunk_index", b1, ["k"], fp)
    assert out.count() == 2  # intra-batch dups collapsed
    out = cat.merge_append("chunk_index", b1, ["k"], fp)
    assert out.count() == 2  # re-put of existing keys is a no-op
    b2 = spark.createDataFrame([(2, "b"), (3, "c")], "k long, v string")
    out = cat.merge_append("chunk_index", b2, ["k"], fp)
    assert out.count() == 3  # only the new key landed
    assert {r["k"] for r in out.collect()} == {1, 2, 3}
    m = cat.manifest("chunk_index")
    assert m["complete"] and m["merge_keys"] == ["k"] and m["rows"] == 3


@pytest.mark.skipif(
    not _iceberg_jar_present(),
    reason="no Iceberg runtime jar in this sandbox (SURVEY.md §7); "
    "the MERGE INTO branch is exercised when a jar is configured",
)
def test_merge_append_iceberg(tmp_path_factory):
    """Same contract through the Iceberg seam (writeTo + MERGE INTO)."""
    from libchunk_spark.session import get_spark

    wh = str(tmp_path_factory.mktemp("iceberg_wh"))
    spark = get_spark(
        app="iceberg-merge",
        master="local[2]",
        extra={
            "spark.sql.catalog.local": "org.apache.iceberg.spark.SparkCatalog",
            "spark.sql.catalog.local.type": "hadoop",
            "spark.sql.catalog.local.warehouse": wh,
        },
    )
    cat = StageCatalog(root=wh, iceberg_catalog="local.db")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert cat.merge_append("chunk_index", b1, ["k"], "fp").count() == 2
    assert cat.merge_append("chunk_index", b1, ["k"], "fp").count() == 2
    b2 = spark.createDataFrame([(3, "c")], "k long, v string")
    assert cat.merge_append("chunk_index", b2, ["k"], "fp").count() == 3


def test_manifest_has_lineage_and_metrics(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ckpt"))
    run_pipeline(corpus, CFG, StageCatalog(root=root), with_containment=False)
    with open(os.path.join(root, "components", "_manifest.json")) as f:
        m = json.load(f)
    assert m["complete"] is True
    assert "cand_pairs" in m["inputs"]
    assert m["rows"] == 80
    assert m["partitions"] and all("rows" in p for p in m["partitions"])


def test_write_stage_runs_only_the_write(spark, tmp_path_factory):
    """write_stage's manifest counts come from the part-file footers and its
    re-read uses the stored schema, so the parquet write is the only job:
    no partition-id rollup, no schema inference."""
    root = str(tmp_path_factory.mktemp("ckpt_jobs"))
    df = spark.createDataFrame(
        [(i, f"k{i}") for i in range(100)], "id long, k string"
    ).repartition(3)
    sc = spark.sparkContext
    sc.setJobGroup("write-stage", "write-stage")
    try:
        out = StageCatalog(root=root).write_stage("s", df, "fp")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("write-stage")
    # AQE runs the repartition's shuffle map stage as a job of its own
    assert len(jobs) <= 2, jobs
    m = StageCatalog(root=root).manifest("s")
    assert m["rows"] == 100 and len(m["partitions"]) == 3
    assert sum(p["rows"] for p in m["partitions"]) == 100
    assert out.schema == df.schema
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_merge_insert_sql_construction():
    """Jar-free coverage of the MERGE branch's statement logic (execution
    itself is gated on the Iceberg runtime jar, absent in this sandbox —
    determination recorded in BASELINE.md)."""
    from libchunk_spark.sources.catalog import merge_insert_sql

    sql = merge_insert_sql("local.db.chunk_index", "_merge_src_chunk_index", ["k"])
    assert sql == (
        "MERGE INTO local.db.chunk_index t USING _merge_src_chunk_index s "
        "ON t.k = s.k WHEN NOT MATCHED THEN INSERT *"
    )
    sql2 = merge_insert_sql("c.t", "v", ["a", "b"])
    assert "ON t.a = s.a AND t.b = s.b" in sql2


def test_merge_append_dedupes_within_batch(spark, tmp_path_factory):
    """ADVICE r02: a single batch carrying two rows with the same key must
    insert exactly one on BOTH the first-write and the append path."""
    from libchunk_spark.sources.catalog import StageCatalog

    root = str(tmp_path_factory.mktemp("merge_dup"))
    cat = StageCatalog(root=root)
    dup1 = spark.createDataFrame([("k1", 1), ("k1", 1)], "k string, v int")
    out = cat.merge_append("idx", dup1, ["k"], "fp")
    assert out.count() == 1
    dup2 = spark.createDataFrame([("k2", 2), ("k2", 2)], "k string, v int")
    out = cat.merge_append("idx", dup2, ["k"], "fp")
    assert out.count() == 2
    assert out.select("k").distinct().count() == 2


def test_bucketed_chunk_index_join_no_exchange(spark, corpus, tmp_path_factory):
    """VERDICT r05 next #8: a chunk_index checkpointed through
    write_stage_bucketed(k) must join (assemble's get-path probe) with NO
    Exchange on the index side — only the key-list side shuffles. Also
    asserts read_stage returns the catalog table (a plain parquet read
    would silently drop the bucket spec) and that assemble's round-trip
    invariant holds on the bucketed table."""
    from pyspark.sql import functions as F

    from libchunk_spark.operators.assemble import assemble, assert_round_trip
    from libchunk_spark.operators.split import split

    root = str(tmp_path_factory.mktemp("bucketed"))
    cat = StageCatalog(root=root)
    res = split(corpus, CFG.chunk, keep_payload=True)
    fp = config_fingerprint(CFG.chunk)
    idx = cat.write_stage_bucketed(
        "chunk_index", res.chunk_index, fp, ["k"], n_buckets=8
    )
    # re-read through the catalog keeps the bucket spec
    idx2 = cat.read_stage(spark, "chunk_index")
    assert "lcs_" in idx2._jdf.queryExecution().analyzed().toString()

    keys = res.file_keys.select(
        "file_id", F.posexplode("keys").alias("pos", "k")
    ).localCheckpoint()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = keys.join(idx.select("k", "chunk"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # exactly ONE Exchange: the key-list probe side; the bucketed scan
        # feeds the join pre-partitioned (SelectedBucketsCount visible)
        assert plan.count("Exchange") == 1, plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
        # behavior: full assemble over the bucketed index round-trips
        result = assemble(res.file_keys, idx)
        assert_round_trip(result)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pipeline_bucketed_index_resume_and_equality(spark, corpus, tmp_path_factory):
    """run_pipeline(bucketed_index=True) must produce the same final
    components as the plain layout, resume without re-running stages, and
    hand back a chunk_index that resolves through the session catalog
    (bucket spec intact)."""
    root_plain = str(tmp_path_factory.mktemp("plain"))
    root_bucketed = str(tmp_path_factory.mktemp("bucketed"))
    r_plain = run_pipeline(
        corpus, CFG, StageCatalog(root=root_plain), with_containment=False
    )
    r1 = run_pipeline(
        corpus, CFG, StageCatalog(root=root_bucketed),
        with_containment=False, bucketed_index=True,
    )
    want = sorted(tuple(r) for r in r_plain.components.collect())
    got = sorted(tuple(r) for r in r1.components.collect())
    assert got == want
    # resume: everything read back, chunk_index via the catalog table
    r2 = run_pipeline(
        corpus, CFG, StageCatalog(root=root_bucketed),
        with_containment=False, bucketed_index=True,
    )
    assert not r2.stages_run
    assert "lcs_" in r2.chunk_index._jdf.queryExecution().analyzed().toString()
    assert sorted(tuple(r) for r in r2.components.collect()) == want


def test_audit_stages_read_components_checkpoint(spark, corpus, tmp_path_factory):
    """with_audits=True materializes cluster_stats/shard_plan as stages
    over the components CHECKPOINT; a rerun skips them like any stage, and
    the values equal the audit shapes applied directly to the final
    components/edges tables (the CC loop is never re-paid)."""
    from pyspark.sql import functions as F

    from libchunk_spark.operators.audit import cluster_stats, shard_plan

    root = str(tmp_path_factory.mktemp("ckpt_audit"))
    r1 = run_pipeline(
        corpus, CFG, StageCatalog(root=root),
        with_containment=False, with_audits=True,
    )
    assert {"cluster_stats", "shard_plan"} <= set(r1.stages_run)
    got_cs = sorted(tuple(r) for r in r1.cluster_stats.collect())
    got_sp = sorted(tuple(r) for r in r1.shard_plan.collect())
    want_cs = sorted(
        tuple(r)
        for r in cluster_stats(
            r1.components, r1.edges.select("a", "b"), id_col="file_id"
        ).collect()
    )
    sizes = corpus.select("file_id", F.length(F.col("content")).alias("n_chars"))
    want_sp = sorted(
        tuple(r)
        for r in shard_plan(r1.components, sizes, id_col="file_id").collect()
    )
    assert got_cs == want_cs and len(got_cs) > 0
    assert got_sp == want_sp and len(got_sp) > 0
    r2 = run_pipeline(
        corpus, CFG, StageCatalog(root=root),
        with_containment=False, with_audits=True,
    )
    assert {"cluster_stats", "shard_plan"} <= set(r2.stages_skipped)
    assert r2.stages_run == []
