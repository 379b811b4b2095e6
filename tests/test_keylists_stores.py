"""Key-list text codec round trip + StoreMap routing + plan-quality checks."""

from __future__ import annotations

import base64

import pytest
from pyspark.sql import functions as F

from libchunk_spark.config import CORPUS_PIPELINE_CONFIG as CFG
from libchunk_spark.fixtures import corpus_to_spark, generate_corpus
from libchunk_spark.operators.assemble import assemble, assert_round_trip
from libchunk_spark.operators.keylists import (
    b64url_decode,
    b64url_encode,
    read_keylist,
    write_keylist,
)
from libchunk_spark.operators.move import move
from libchunk_spark.operators.split import split
from libchunk_spark.stores import LOCAL, REMOTE, NoSuchStoreError, StoreMap


def test_b64url_matches_go_rawurlencoding(spark):
    """Codec must equal Go's base64.RawURLEncoding (bits/bits.go:74-76)."""
    payloads = [bytes([0xFB, 0xEF, 0xBE]) * 11, b"\x00" * 32, bytes(range(32))]
    df = spark.createDataFrame([(p,) for p in payloads], "b binary")
    got = [r["e"] for r in df.select(b64url_encode(F.col("b")).alias("e")).collect()]
    want = [base64.urlsafe_b64encode(p).rstrip(b"=").decode() for p in payloads]
    assert got == want
    back = [
        bytes(r["d"])
        for r in df.select(b64url_decode(b64url_encode(F.col("b"))).alias("d")).collect()
    ]
    assert back == payloads


def test_keylist_file_round_trip(spark, tmp_path):
    corpus = corpus_to_spark(spark, generate_corpus(30, seed=21))
    res = split(corpus, CFG.chunk)
    path = str(tmp_path / "keys.txt")
    write_keylist(res.file_keys, path)
    back = read_keylist(spark, path)
    assert back.where(~F.col("valid")).count() == 0
    exported = {r["k"] for r in back.collect()}
    original = {
        r["k"]
        for r in res.file_keys.select(F.explode("keys").alias("k")).collect()
    }
    assert exported == original


def test_storemap_routing(spark, tmp_path):
    corpus = corpus_to_spark(spark, generate_corpus(20, seed=22))
    res = split(corpus, CFG.chunk)
    local_p = str(tmp_path / "local")
    remote_p = str(tmp_path / "remote")
    res.chunk_index.write.parquet(local_p)
    res.chunk_index.limit(5).write.parquet(remote_p)
    sm = StoreMap().add(LOCAL, local_p).add(REMOTE, remote_p)
    assert sm.put_dst() == local_p
    assert sm.move_dst() == remote_p
    srcs = sm.get_srcs(spark)
    assert len(srcs) == 2
    # full get through the store map: local first, remote fallback
    result = assemble(res.file_keys, srcs[0], remote_index=srcs[1])
    assert_round_trip(result)
    with pytest.raises(NoSuchStoreError):
        StoreMap().add(REMOTE, remote_p).put_dst()


def test_move_plan_broadcasts_index(spark, tmp_path):
    """The anti-join against the remote key index must broadcast (the
    reference prefetches the index into memory, move.go:53-65)."""
    corpus = corpus_to_spark(spark, generate_corpus(20, seed=23))
    res = split(corpus, CFG.chunk)
    mv = move(res.chunk_index, res.chunk_index.sample(0.3, seed=1).select("k"))
    plan = mv.pushed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_documents_scan_prunes_columns(spark):
    """Queries that only need doc_id+text must not read other columns."""
    from libchunk_spark.queries import q_token_stats

    df = q_token_stats(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_line = [l for l in plan.splitlines() if "FileScan" in l or "Scan parquet" in l]
    assert scan_line, plan
    s = " ".join(scan_line)
    assert "doc_id" in s and "text" in s
    assert "source" not in s  # unused column pruned from the parquet scan


def test_lsh_path_has_no_python_udf(spark):
    """Candidate generation after sign() must stay JVM-side (no Python in
    the shuffle-heavy path)."""
    from libchunk_spark.operators.lsh import minhash_candidate_edges

    sigs = spark.createDataFrame(
        [(1, [1, 2], 3, [7, 8], 2), (2, [1, 2], 3, [7, 9], 2)],
        "file_id long, minhash array<long>, simhash long, bands array<long>, n_shingles int",
    )
    plan = (
        minhash_candidate_edges(sigs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_band_rows_explicitly_repartitioned(spark):
    """north_rule: explicit repartitioning on band-hash keys — the exploded
    band rows must carry a hashpartitioning exchange on (band, band_hash)
    ahead of the bucket aggregation."""
    from libchunk_spark.operators.lsh import band_rows

    sigs = spark.createDataFrame(
        [(1, [7, 8]), (2, [7, 9])], "file_id long, bands array<long>"
    )
    plan = band_rows(sigs)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(band" in plan, plan


def test_simhash_path_stays_jvm_side(spark):
    """SimHash block explode + hamming verify must contain no Python nodes
    and keep the partial-agg-friendly shape (no silent drop of big blocks
    means a unionByName of pair and star branches)."""
    from libchunk_spark.operators.lsh import simhash_candidate_edges

    sigs = spark.createDataFrame(
        [(1, 3), (2, 7)], "file_id long, simhash long"
    )
    plan = (
        simhash_candidate_edges(sigs, CFG)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Union" in plan  # star-edge fallback branch is present


def test_signlsh_single_table_stays_jvm_side(spark):
    """The driver-checked sign-LSH path (raw-dims table) must contain no
    Python nodes — bucketing, sizing, cap/star branches and the exact-cosine
    verify are all JVM expressions — and must carry both the pair and the
    star-degrade branches (no silent drop of oversized buckets)."""
    from libchunk_spark.operators.similarity import signlsh_pairs

    emb = spark.createDataFrame(
        [(1, [0.1, -0.2, 0.3]), (2, [0.2, -0.1, 0.4])],
        "vec_id long, embedding array<float>",
    )
    plan = (
        signlsh_pairs(emb, 0.3, n_bits=2, bucket_cap=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "Union" in plan  # star-degrade branch present
    assert "Window" in plan  # bucket-size cap as a reusable window count


def test_topk_ivf_percell_stage_not_aqe_collapsed(spark):
    """The CPU-bound per-cell top-k stage must keep its explicit n_cells
    partitioning (user-specified repartition counts are AQE-exempt)."""
    from libchunk_spark.operators.similarity import topk_ivf

    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df = topk_ivf(emb, emb.where("vec_id % 8 = 0"), k=2, n_cells=4, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "FlatMapGroupsInPandas" in plan  # the per-cell vectorized top-k
    df.collect()  # and it executes


def test_decontam_eval_side_broadcasts(spark):
    """Decontamination plan hygiene: the eval shingle set must reach the
    corpus side as a broadcast LEFT-SEMI join — the training corpus is
    never shuffled, the property that makes the op free at 100 TB."""
    from libchunk_spark.queries import q_decontam_flags

    df = q_decontam_flags(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0], plan


def test_pq_topk_ivf_percell_stage_plan(spark):
    """IVFADC plan hygiene: the cell-pruning filter reaches the code-table
    side BEFORE the shuffle, the per-cell ADC stage keeps its explicit
    AQE-exempt partitioning, and the scan stages are Arrow (no per-row
    Python)."""
    import numpy as np

    from libchunk_spark.operators.pq import pq_topk_ivf

    rng = np.random.default_rng(6)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(96)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df = pq_topk_ivf(
        emb, emb.where("vec_id % 16 = 0"), k=2, m=4, n_codes=16,
        shortlist=8, n_cells=4, nprobe=2,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan  # AQE-exempt per-cell width
    assert "FlatMapGroupsInPandas" in plan  # the per-cell ADC scorer
    assert "cell" in plan and " IN " in plan.replace("INPUT", ""), plan
    assert "BatchEvalPython" not in plan  # nothing row-at-a-time
    df.collect()  # and it executes


def test_move_bloom_equals_exact_antijoin(spark):
    """Bloom-pruned push must equal the exact anti-join byte-for-byte —
    including under forced false positives (tiny filter), which phase 2's
    exact anti-join must resolve. No false negatives = nothing skipped."""
    import hashlib

    from libchunk_spark.operators.move import move, move_bloom

    keys = [hashlib.sha256(f"chunk{i}".encode()).hexdigest() for i in range(400)]
    local = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k string, payload long"
    )
    remote = spark.createDataFrame(
        [(k,) for k in keys[::3]], "k string"  # every third key is remote
    )
    exact = move(local, remote)
    want = sorted(tuple(r) for r in exact.pushed.collect())
    # generously sized filter (few false positives)
    got_ok = move_bloom(local, remote, expected_keys=200, fpp=0.01)
    assert sorted(tuple(r) for r in got_ok.pushed.collect()) == want
    assert got_ok.skipped_count == exact.skipped_count
    # pathologically small filter -> many false positives -> phase 2 must
    # resolve them all; result still exact
    got_fp = move_bloom(local, remote, expected_keys=2, fpp=0.5)
    assert sorted(tuple(r) for r in got_fp.pushed.collect()) == want
    assert got_fp.skipped_count == exact.skipped_count


def test_move_bloom_empty_remote_pushes_everything(spark):
    """ADVICE r03: an empty remote index (zero rows) must yield the
    all-absent filter — everything pushes, nothing raises."""
    import hashlib

    from libchunk_spark.operators.move import move_bloom

    keys = [hashlib.sha256(f"c{i}".encode()).hexdigest() for i in range(20)]
    local = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k string, payload long"
    )
    remote = spark.createDataFrame([], "k string")
    got = move_bloom(local, remote, expected_keys=10)
    assert got.pushed.count() == 20
    assert got.skipped_count == 0


def test_move_bloom_rejects_non_sha256_keys(spark):
    """ADVICE r03: the sha256-hex key contract is enforced loudly at the
    operator boundary, not as a ValueError deep inside an executor."""
    import pytest as _pytest

    from libchunk_spark.operators.move import _bloom_positions

    with _pytest.raises(ValueError, match="sha256-hex"):
        _bloom_positions(["short"], 64, 2)
    with _pytest.raises(ValueError, match="sha256-hex"):
        _bloom_positions(["Z" * 64], 64, 2)


def test_bloom_positions_match_python_int_parse():
    """The vectorized nibble dot product must be bit-identical to the
    int(k[:15], 16) / int(k[15:30], 16) | 1 reference it replaced."""
    import hashlib

    import numpy as np

    from libchunk_spark.operators.move import _bloom_positions

    keys = [hashlib.sha256(f"x{i}".encode()).hexdigest() for i in range(64)]
    m, h = 997, 3
    got = _bloom_positions(keys, m, h)
    h1 = np.array([int(k[:15], 16) for k in keys], dtype=np.uint64)
    h2 = np.array([int(k[15:30], 16) | 1 for k in keys], dtype=np.uint64)
    i = np.arange(h, dtype=np.uint64)
    want = (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)
    assert (got == want).all()


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_local=st.integers(min_value=1, max_value=60),
    overlap_pct=st.integers(min_value=0, max_value=100),
    expected_keys=st.integers(min_value=1, max_value=4),
    fpp=st.floats(min_value=0.3, max_value=0.7),
    seed=st.integers(min_value=0, max_value=10**6),
)
def test_move_bloom_property_adversarial_fpp(
    spark, n_local, overlap_pct, expected_keys, fpp, seed
):
    """VERDICT r04 next #8: property-test the Bloom path at adversarial
    fpp (near 0.5) and deliberately undersized m (expected_keys ≪ actual),
    stressing the maybe-branch — byte-equality with the exact move() must
    hold for arbitrary local/remote overlap, including disjoint and
    fully-overlapping sets."""
    import hashlib

    from libchunk_spark.operators.move import move, move_bloom

    keys = [
        hashlib.sha256(f"prop{seed}_{i}".encode()).hexdigest()
        for i in range(n_local)
    ]
    n_remote = (n_local * overlap_pct) // 100
    local = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k string, payload long"
    )
    remote_rows = [(k,) for k in keys[:n_remote]] + [
        (hashlib.sha256(f"remote_only{seed}_{i}".encode()).hexdigest(),)
        for i in range(3)
    ]
    remote = spark.createDataFrame(remote_rows, "k string")
    exact = move(local, remote)
    got = move_bloom(local, remote, expected_keys=expected_keys, fpp=fpp)
    assert sorted(tuple(r) for r in got.pushed.collect()) == sorted(
        tuple(r) for r in exact.pushed.collect()
    )
    assert got.skipped_count == exact.skipped_count
