#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

Env:
  SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] cores (default 32)
  SPARK_GRAFT_BENCH_FILES  synthetic corpus size for throughput (default 20000)

Headline timings cover the driver queries plus the full near-dup pipeline on
a synthetic source-code corpus (chunk+sign throughput in files/sec and MB/s —
the BASELINE.md reported metric). Scaling evidence across two parallelism
levels is produced by jobs/scaling_bench.py (writes BENCH/BASELINE.md).
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

# The scaling gate rides on the local[2]-vs-local[8] shape ONLY
# (jobs/scaling_bench.py GATE_N); wider footprints (n=4, executor counts)
# are curve points with a different host envelope.
GATE_N = 2


def scaling_fields(bench_dir: str) -> dict:
    """Gate-vs-curve discipline for the emitted scaling numbers.

    The scaling_efficiency_* fields must carry the GATE-shape (n=GATE_N)
    measurement only. A wider-footprint curve run (e.g. n=4) also writes
    BENCH/scaling.json, and blindly forwarding it here once rendered the
    0.667 n=4 curve point in a field read against the >=0.8 gate. Pick the
    newest artifact whose recorded n matches the gate shape; a non-gate
    scaling.json is reported under curve-named fields instead.
    """
    out: dict = {}
    candidates = []
    for fn in glob.glob(os.path.join(bench_dir, "scaling*.json")):
        try:
            with open(fn) as f:
                s = json.load(f)
        except (OSError, ValueError):
            continue
        # pre-GATE_N artifacts carry no "n" field and are all gate-shaped
        if isinstance(s, dict) and "efficiency_chunk_sign" in s:
            candidates.append((os.path.getmtime(fn), fn, s))
    gate_runs = [c for c in candidates if c[2].get("n", GATE_N) == GATE_N]
    if gate_runs:
        _, fn, s = max(gate_runs)
        out["scaling_efficiency_chunk_sign"] = s["efficiency_chunk_sign"]
        out["scaling_efficiency_total"] = s["efficiency_total"]
        out["scaling_gate_shape"] = f"local[{GATE_N}] vs local[{4 * GATE_N}]"
        out["scaling_artifact"] = os.path.basename(fn)
    latest_path = os.path.join(bench_dir, "scaling.json")
    if os.path.exists(latest_path):
        with open(latest_path) as f:
            s = json.load(f)
        if s.get("n", GATE_N) != GATE_N:
            out["scaling_curve_n"] = s["n"]
            out["scaling_curve_efficiency_chunk_sign"] = s["efficiency_chunk_sign"]
            out["scaling_curve_efficiency_total"] = s["efficiency_total"]
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # 60k files (~350 MB): big enough that the paired-table kernel's
    # sustained rate dominates fixed stage overheads in the throughput number
    n_bench_files = int(os.environ.get("SPARK_GRAFT_BENCH_FILES", "60000"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from pyspark.sql import functions as F

    from libchunk_spark import queries as Q
    from libchunk_spark.config import CORPUS_PIPELINE_CONFIG as CCFG
    from libchunk_spark.fixtures import generate_corpus_fast
    from libchunk_spark.operators.components import connected_components
    from libchunk_spark.operators.fused import chunk_and_sign
    from libchunk_spark.operators.lsh import (
        minhash_candidate_edges,
        simhash_candidate_edges,
    )
    from libchunk_spark.operators.sign import sign
    from libchunk_spark.operators.split import split
    from libchunk_spark.session import get_spark

    spark = get_spark(app="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: JVM codegen AND the python worker pool (workers pay a one-time
    # import+fork cost that would otherwise be billed to the first query)
    warm = spark.createDataFrame(
        [(i, "warm up text " * 20) for i in range(cpus * 8)],
        "file_id long, content string",
    ).repartition(cpus)
    sign(warm, CCFG).agg(F.sum("n_shingles")).collect()  # agg: a bare count
    # would let Catalyst prune the UDF and warm nothing
    split(warm, CCFG.chunk, keep_payload=False).chunks.count()
    chunk_and_sign(warm, CCFG).where("pos = 0").count()
    spark.range(1000).select(F.sha2(F.col("id").cast("string"), 256)).count()

    # best-of-N: single-run host noise is +-25% (BENCH/BASELINE.md), so
    # round-over-round comparisons need a pinned statistic.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

    # --- host-capacity canary (VERDICT r06 next #6): a fixed reference
    # computation timed at window start AND end, emitted in the JSON so a
    # cross-window comparison can divide out the host level without a twin
    # window (round 6 spent real effort adjudicating x3-9 window drift).
    # NumPy kernel = single-core CPU level; trivial Spark action = JVM/
    # scheduler level. Best-of-3 each, ~0.5 s total.
    import numpy as np

    def canary() -> dict[str, float]:
        a = np.random.default_rng(0).standard_normal((512, 512))
        t_np = min(
            _timed(lambda: a @ a) for _ in range(3)
        )
        t_sp = min(
            _timed(
                lambda: spark.range(100_000)
                .agg(F.bit_xor(F.xxhash64("id")))
                .collect()
            )
            for _ in range(3)
        )
        return {"numpy_matmul_sec": round(t_np, 4), "spark_action_sec": round(t_sp, 4)}

    def _timed(fn) -> float:
        t0 = time.time()
        fn()
        return time.time() - t0

    canary_start = canary()

    QUERY_NAMES = [
        "exact_dup_groups",
        "round_trip_sha",
        "minhash",
        "lsh_band_pairs",
        "simhash32",
        "ngram_jaccard_pairs",
        "components",
        "cosine_pairs",
        "ann_signlsh",
        "topk_similar",
        "topk_ivf",
        "topk_pq",
        "topk_ivfpq",
        "containment_pairs",
        "chunk_stats",
        "decontam_flags",
        "quality_verdicts",
        "sample_stratified",
        "top_ngrams",
        "event_quantiles",
        "top_docs_per_source",
        "event_asof_attribution",
        "event_range_counts",
        "revenue_rollup",
        "salted_skew_agg",
        "props_json_stats",
        "winnow_fingerprints",
        "winnow_pairs",
        "clone_type2_groups",
        "source_similarity",
        "tfidf_top_terms",
        "event_type_pivot",
        "approx_distinct_users",
        "event_rolling_stats",
        "order_late_shipment",
        "lsh_eval_metrics",
        "edit_sim_pairs",
        "dir_merkle",
        "cluster_stats",
        "approx_event_quantiles",
        "cross_source_dups",
        "word_entropy",
        "shard_plan",
        "curation_decisions",
        "doc_len_histogram",
        "dup_substrings",
        "bm25_top_docs",
        "passage_windows",
        "chunk_dup_spans",
        "band_skew_report",
        "minhash_calibration",
        "minhash_calibration_prod",
        "passage_delta",
        "weighted_jaccard_pairs",
        "wminhash_calibration",
        "rename_candidates",
        "clone_type1_groups",
        "ctph_contract",
        "supershingle_pairs",
        "simhash_hamming_pairs",
        "allpairs_jaccard",
        "semantic_decontam_flags",
        "bbit_minhash_calibration",
    ]

    # --- synthetic source-code corpus for the pipeline phases (built once,
    # outside the timed loop) ---
    gen_t0 = time.time()
    rows = generate_corpus_fast(n_bench_files, seed=42)
    total_bytes = sum(len(c) for _, c in rows)
    corpus = (
        spark.createDataFrame(rows, "file_id long, content string")
        .repartition(max(cpus * 2, 8))
        .cache()
    )
    corpus.count()
    gen_sec = time.time() - gen_t0

    # --- amortized incremental-clustering setup (VERDICT r04 next #7):
    # production folds today's delta into yesterday's assignment, so the
    # "old" cluster state is precomputed OUTSIDE the timed region (it
    # amortizes across days); the timed entry below measures ONLY the
    # update_components delta fold — the O(|V_old| stars + delta edges)
    # number the operator claims. The full-recluster twin stays timed as
    # `components` for comparison.
    from libchunk_spark.operators.components import update_components

    inc_pairs = Q.q_lsh_band_pairs(spark, sf_dir).select("a", "b").localCheckpoint()
    inc_docs = (
        Q._docs(spark, sf_dir)
        .select(F.col("doc_id").alias("file_id"))
        .localCheckpoint()
    )
    inc_new_nodes = inc_docs.where(F.col("file_id") % 2 == 1)
    inc_delta = inc_pairs.where(
        (F.col("a") % 2 == 1) | (F.col("b") % 2 == 1)
    ).localCheckpoint()
    inc_base = connected_components(
        inc_pairs.where((F.col("a") % 2 == 0) & (F.col("b") % 2 == 0)),
        all_nodes=inc_docs.where(F.col("file_id") % 2 == 0),
    ).localCheckpoint()

    # --- audit composites read the components CHECKPOINT (VERDICT r06
    # next #4): production materializes components once (run_pipeline
    # stage) and every audit aggregates over it — so the timed entries for
    # cluster_stats/shard_plan/curation_decisions measure the audit
    # aggregation, not a re-run of the CC loop (which stays timed as its
    # own `components` entry). The registry default recomputes for oracle
    # parity; equality pinned in tests/test_queries_batch4.py.
    comp_src = Q.q_components(spark, sf_dir).localCheckpoint()
    QUERY_KWARGS = {
        "cluster_stats": {"components_source": comp_src},
        "shard_plan": {"components_source": comp_src},
        "curation_decisions": {"components_source": comp_src},
    }

    import shutil
    import statistics
    import tempfile

    # one untimed pass first: the first execution of each plan pays JIT
    # compilation, codegen and OS page-cache costs that steady-state
    # throughput (the quantity the 100 TB claims are about) never sees —
    # rep 0 historically ran ~2x the later reps and distorted the median.
    warmup = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1"))

    runs: list[dict[str, float]] = []
    n_keys = n_clusters = 0
    for _rep in range(-warmup, repeats):
        timings: dict[str, float] = {}

        def bench(name: str, fn) -> None:
            t0 = time.time()
            fn()
            timings[name] = round(time.time() - t0, 3)

        # --- driver-table queries (documents/embeddings at sf_dir) ---
        for qname in QUERY_NAMES:
            qfn = Q.QUERIES[qname][0]
            kw = QUERY_KWARGS.get(qname, {})
            bench(qname, lambda qfn=qfn, kw=kw: qfn(spark, sf_dir, **kw).count())

        # amortized incremental clustering: delta fold only (setup above)
        bench(
            "components_incremental_amortized",
            lambda: update_components(
                inc_base, inc_delta, new_nodes=inc_new_nodes
            ).count(),
        )

        fused_tmp = tempfile.mkdtemp(prefix="bench_fused_")
        try:
            # phase 1 — chunk+sign: ONE fused content pass (the production
            # put path, pipeline.py): the fused frame checkpoints to parquet
            # and the distinct chunk-key count reads the checkpoint — the
            # chunker and shingle UDFs share each Arrow batch of bytes
            # instead of scanning the corpus twice (VERDICT r03 item 2;
            # measured ~2x the two-pass files/s at this scale).
            t0 = time.time()
            fused_path = os.path.join(fused_tmp, "fused")
            chunk_and_sign(corpus, CCFG).write.mode("overwrite").parquet(
                fused_path
            )
            fused_c = spark.read.parquet(fused_path)
            n_keys = (
                fused_c.where(F.col("k").isNotNull())
                .select("k").distinct().count()
            )
            timings["pipeline_chunk_sign"] = round(time.time() - t0, 3)

            # phase 2 — cluster: edges + connected components from the
            # checkpointed fused frame's signature projection
            t0 = time.time()
            sigs_c = fused_c.where(F.col("pos") == 0).select(
                "file_id", "minhash", "simhash", "bands", "n_shingles"
            )
            edges = minhash_candidate_edges(sigs_c).unionByName(
                simhash_candidate_edges(sigs_c, CCFG)
            )
            comp = connected_components(edges, all_nodes=corpus.select("file_id"))
            n_clusters = comp.select("component").distinct().count()
            timings["pipeline_cluster"] = round(time.time() - t0, 3)
        finally:
            shutil.rmtree(fused_tmp, ignore_errors=True)
        if _rep >= 0:  # warm-up reps are discarded
            runs.append(timings)

    best = {k: min(r[k] for r in runs) for k in runs[0]}
    chunk_sign_sec = best["pipeline_chunk_sign"]
    totals = [round(sum(r.values()), 3) for r in runs]
    # headline = median of whole-run totals (a total some run actually
    # achieved); the per-query best-of-N breakdown stays as secondary data
    # for round-over-round comparison under ±25% host noise.
    median_total = round(statistics.median(totals), 3)
    out = {
        "metric": "median_total_sec",
        "value": median_total,
        "unit": "sec",
        "queries": best,
        "sf": sf,
        "cpus": cpus,
        "runs": repeats,
        "warmup_runs": warmup,
        "stat": "median_of_run_totals",
        "queries_stat": "best_of_n_per_query",
        "run_totals": totals,
        "best_total": round(sum(best.values()), 3),
        "bench_files": n_bench_files,
        "bench_mb": round(total_bytes / 1e6, 1),
        "files_per_sec_chunk_sign": round(n_bench_files / chunk_sign_sec, 1),
        "mb_per_sec_chunk_sign": round(total_bytes / 1e6 / chunk_sign_sec, 1),
        "n_chunk_keys": n_keys,
        "n_clusters": n_clusters,
        "corpus_gen_sec": round(gen_sec, 3),
        "canary_start": canary_start,
        "canary_end": canary(),
    }
    out.update(scaling_fields(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
