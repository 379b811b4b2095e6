"""Pipeline dup-pair recall vs the brute-force oracle (BASELINE.md: >= 0.99)
plus unit tests of the signature kernels and the components operator."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from libchunk_spark.config import CORPUS_PIPELINE_CONFIG as CFG
from libchunk_spark.config import SignatureConfig
from libchunk_spark.fixtures import corpus_to_spark, generate_corpus
from libchunk_spark.functions.signatures import (
    jaccard,
    minhash_signature,
    shingle_hashes,
    simhash,
)
from libchunk_spark.operators.components import connected_components
from libchunk_spark.operators.containment import (
    containment_candidates,
    verify_containment,
)
from libchunk_spark.operators.lsh import (
    minhash_candidate_edges,
    simhash_candidate_edges,
)
from libchunk_spark.operators.sign import sign
from libchunk_spark.operators.split import split
from libchunk_spark.oracle import oracle_dup_pairs, pair_recall


def test_minhash_estimates_jaccard():
    rng = np.random.default_rng(0)
    cfg = SignatureConfig(num_perms=256, bands=64)
    a = rng.integers(0, 2**63, 400, dtype=np.uint64)
    b = np.concatenate([a[:300], rng.integers(0, 2**63, 100, dtype=np.uint64)])
    a_u = np.unique(a)
    b_u = np.unique(b)
    true_j = jaccard(a_u, b_u)
    sa = minhash_signature(a_u, cfg)
    sb = minhash_signature(b_u, cfg)
    est = (sa == sb).mean()
    assert abs(est - true_j) < 0.12


@pytest.mark.parametrize("n_files,seed,min_pairs", [(300, 123, 50), (600, 321, 150)])
def test_minhash_prod_calibration_multi_pair(n_files, seed, min_pairs):
    """VERDICT r06 next #2: est-vs-exact-Jaccard contract for the PRODUCTION
    128-perm affine family (a*h+b mod 2^64, odd a) over the synthetic
    corpus's planted near-dup pairs at two corpus scales — recall floors
    alone do NOT validate a sketch (the SQL-demo family read est=1.0 for
    five rounds while recall stayed green). Measured: mae 0.0175/0.0146,
    maxerr 0.093, bias -0.0021/-0.0014 at n=300/600 — bounds keep 2-3x
    margin, no knife-edge."""
    import numpy as np

    from libchunk_spark.functions.signatures import shingle_hashes_batch
    from libchunk_spark.oracle import oracle_dup_pairs

    rows = generate_corpus(n_files=n_files, seed=seed)
    ids = [r.file_id for r in rows]
    contents = [r.content.encode() for r in rows]
    orc = oracle_dup_pairs(ids, contents, CFG)
    assert len(orc.jaccards) >= min_pairs, "corpus must plant enough near-dups"
    sets = dict(zip(ids, shingle_hashes_batch(contents, CFG.shingle)))
    sigs = {i: minhash_signature(sets[i], CFG.signature) for i in ids}
    errs = np.array(
        [float((sigs[a] == sigs[b]).mean()) - j for (a, b), j in orc.jaccards.items()]
    )
    mae = float(np.abs(errs).mean())
    maxerr = float(np.abs(errs).max())
    bias = float(errs.mean())
    assert mae <= 0.05, f"mae {mae:.4f} > 0.05 — signature family miscalibrated"
    assert maxerr <= 0.20, f"maxerr {maxerr:.4f} > 0.20"
    assert abs(bias) <= 0.02, f"bias {bias:+.4f} outside ±0.02"


def test_bbit_minhash_calibration_planted_pairs():
    """b-bit MinHash (Li & Koenig 2010) over the production 128-perm
    signatures: agreement on the lowest 2 bits, collision-corrected
    J_hat = (agree - 1/4)/(3/4), must track exact Jaccard on the planted
    near-dup pairs. Planted pairs sit at high J where the collision term
    contributes little variance (p = C + (1-C)J -> 1), so the measured
    error is close to the full-width family's: n=118 pairs, mae 0.0178,
    maxerr 0.0903, bias +0.0083 — bounds keep >= 2x margin. The
    moderate-J regime's larger error is bounded by the driver contract
    (queries.q_bbit_minhash_calibration, measured over LSH candidates)."""
    import numpy as np

    from libchunk_spark.functions.signatures import shingle_hashes_batch
    from libchunk_spark.oracle import oracle_dup_pairs

    rows = generate_corpus(n_files=300, seed=7)
    ids = [r.file_id for r in rows]
    contents = [r.content.encode() for r in rows]
    orc = oracle_dup_pairs(ids, contents, CFG)
    assert len(orc.jaccards) >= 10
    sets = dict(zip(ids, shingle_hashes_batch(contents, CFG.shingle)))
    sigs = {i: minhash_signature(sets[i], CFG.signature) for i in ids}
    c = 0.25
    errs = np.array(
        [
            (float(((sigs[a] & 3) == (sigs[b] & 3)).mean()) - c) / (1 - c) - j
            for (a, b), j in orc.jaccards.items()
        ]
    )
    mae = float(np.abs(errs).mean())
    maxerr = float(np.abs(errs).max())
    bias = float(errs.mean())
    assert mae <= 0.10, f"b-bit mae {mae:.4f} > 0.10"
    assert maxerr <= 0.40, f"b-bit maxerr {maxerr:.4f} > 0.40"
    assert abs(bias) <= 0.03, f"b-bit bias {bias:+.4f} outside ±0.03"


def test_minhash_prod_perms_are_minwise():
    """Min-wise spot guard on the production mod-2^64 family: the r6 defect
    class was perms that never wrap and therefore all preserve raw-hash
    order (every perm's argmin == the raw argmin, est=1.0 for any pair
    sharing it). Here the 128 perms must pick many DIFFERENT argmin
    elements over a fixed random set, and essentially none may agree with
    the raw-hash order. Measured: 123 distinct argmins, 0 raw-order hits."""
    from libchunk_spark.functions.signatures import minhash_params

    a, b = minhash_params(CFG.signature.num_perms, CFG.signature.seed)
    assert bool((a % 2 == 1).all()), "affine multipliers must be odd (bijection)"
    rng = np.random.default_rng(9)
    hs = np.unique(rng.integers(0, 2**64, 4096, dtype=np.uint64))
    perm_vals = hs[:, None] * a[None, :] + b[None, :]  # uint64 wraps mod 2^64
    argmins = perm_vals.argmin(axis=0)
    distinct = len(set(argmins.tolist()))
    raw_hits = int((argmins == hs.argmin()).sum())
    assert distinct >= 64, f"only {distinct} distinct argmins — order-preserving?"
    assert raw_hits <= 5, f"{raw_hits}/128 perms preserve raw-hash order"


def test_simhash_close_for_similar_sets():
    rng = np.random.default_rng(1)
    cfg = SignatureConfig()
    a = rng.integers(0, 2**63, 500, dtype=np.uint64)
    b = np.concatenate([a[:490], rng.integers(0, 2**63, 10, dtype=np.uint64)])
    ha, hb = simhash(np.unique(a), cfg), simhash(np.unique(b), cfg)
    assert bin(ha ^ hb).count("1") <= 12
    c = rng.integers(0, 2**63, 500, dtype=np.uint64)
    hc = simhash(np.unique(c), cfg)
    assert bin(ha ^ hc).count("1") >= 20


def test_shingles_content_defined():
    """Editing one region changes only nearby shingles (CDC locality)."""
    rng = np.random.default_rng(2)
    base = rng.integers(0, 256, 8000, dtype=np.uint8).tobytes()
    edited = base[:4000] + b"XYZZY" + base[4010:]
    sa = shingle_hashes(base, CFG.shingle)
    sb = shingle_hashes(edited, CFG.shingle)
    assert jaccard(sa, sb) > 0.8


@pytest.fixture(scope="module")
def corpus_rows():
    return generate_corpus(n_files=300, seed=123)


@pytest.fixture(scope="module")
def oracle(corpus_rows):
    return oracle_dup_pairs(
        [r.file_id for r in corpus_rows],
        [r.content.encode() for r in corpus_rows],
        CFG,
    )


def test_recall_vs_oracle(spark, corpus_rows, oracle):
    """The acceptance gate: dup-pair recall >= 0.99 at the same config."""
    assert len(oracle.pairs) >= 50  # corpus must be non-trivial
    corpus = corpus_to_spark(spark, corpus_rows).cache()
    sigs = sign(corpus, CFG).cache()
    sp = split(corpus, CFG.chunk)
    edges = (
        minhash_candidate_edges(sigs)
        .unionByName(simhash_candidate_edges(sigs, CFG))
        .unionByName(
            verify_containment(
                containment_candidates(sp.chunks, sp.file_keys), corpus
            ).select("a", "b")
        )
    )
    comp = connected_components(edges, all_nodes=corpus.select("file_id"))
    assign = {r["file_id"]: r["component"] for r in comp.collect()}
    recall = pair_recall(assign, oracle)
    assert recall >= 0.99, f"recall {recall:.4f} < 0.99"


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9)], "a long, b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 9, 42]], "file_id long")
    comp = connected_components(edges, all_nodes=nodes)
    got = {r["file_id"]: r["component"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9, 42: 42}


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_connected_components_matches_union_find(spark, seed):
    """Random graphs: large-star/small-star must agree with a driver-side
    union-find oracle on min-id component labels."""
    from libchunk_spark.oracle import UnionFind

    rng = np.random.default_rng(seed)
    n = 120
    m = int(rng.integers(40, 200))
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(m, 2))
        if a != b
    ]
    uf = UnionFind(list(range(n)))
    for a, b in edges:
        uf.union(a, b)
    roots: dict[int, int] = {}
    want = {}
    for i in range(n):
        r = uf.find(i)
        roots.setdefault(r, i)  # ids ascend, so first-seen == min id
        want[i] = roots[r]

    edf = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "file_id long")
    comp = connected_components(edf, all_nodes=nodes)
    got = {r["file_id"]: r["component"] for r in comp.collect()}
    assert got == want


@pytest.mark.parametrize("seed", [7, 8])
def test_update_components_equals_full_recluster(spark, seed):
    """Incremental clustering (assignment stars ∪ delta edges) must equal a
    full batch re-cluster on random graphs split into old/new halves —
    including mergers of pre-existing old clusters through new nodes."""
    from libchunk_spark.operators.components import update_components

    rng = np.random.default_rng(seed)
    n = 140
    m = int(rng.integers(60, 240))
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(m, 2))
        if a != b
    ]
    half = n // 2
    old_e = [(a, b) for a, b in edges if a < half and b < half]
    delta = [(a, b) for a, b in edges if a >= half or b >= half]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "file_id long")
    old_nodes = nodes.where(f"file_id < {half}")
    new_nodes = nodes.where(f"file_id >= {half}")
    base = connected_components(
        spark.createDataFrame(old_e or [(0, 0)], "a long, b long"),
        all_nodes=old_nodes,
    )
    got = {
        r["file_id"]: r["component"]
        for r in update_components(
            base,
            spark.createDataFrame(delta or [(0, 0)], "a long, b long"),
            new_nodes=new_nodes,
        ).collect()
    }
    want = {
        r["file_id"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(edges or [(0, 0)], "a long, b long"),
            all_nodes=nodes,
        ).collect()
    }
    assert got == want


def test_local_contract_clique_reduces_edges_preserves_cc(spark):
    """_local_contract must replace a single-partition k-clique's O(k^2)
    edges with <= k-1 star pairs, without changing connectivity — the
    map-only pre-pass that keeps hot LSH bands from shuffling quadratic
    edge sets (VERDICT r04 next #3)."""
    from libchunk_spark.operators.components import _local_contract

    k = 30
    clique = [(i, j) for i in range(k) for j in range(i + 1, k)]
    edf = spark.createDataFrame(clique, "a long, b long").coalesce(1)
    contracted = _local_contract(edf)
    rows = contracted.collect()
    assert len(rows) == k - 1  # star forest (root canonical by appearance)
    assert {(r["a"], r["b"]) for r in rows} == {(0, j) for j in range(1, k)}
    comp = connected_components(edf)
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == k


def test_local_contract_cross_partition_components_merge(spark):
    """A component split across partitions must still converge to one
    label: each partition emits its own local star, the global rounds
    merge them."""
    # path 0-1-2-...-9 delivered as one-edge partitions (worst split)
    edges = [(i, i + 1) for i in range(9)]
    edf = spark.createDataFrame(edges, "a long, b long").repartition(9)
    comp = connected_components(edf)
    got = {r["file_id"]: r["component"] for r in comp.collect()}
    assert got == {i: 0 for i in range(10)}


def test_connected_components_contract_on_off_equal(spark):
    """The contraction pre-pass is a pure optimization: on a clique (the
    shape it contracts), a chain and a random graph, the assignment must
    equal the union-find oracle's min-id partition."""
    import random as _r

    from libchunk_spark.oracle import UnionFind

    rng = _r.Random(5)
    edges = [(i, j) for i in range(20) for j in range(i + 1, 20)]  # clique
    edges += [(100 + i, 101 + i) for i in range(50)]  # chain
    edges += [
        (rng.randrange(200, 400), rng.randrange(200, 400)) for _ in range(100)
    ]
    # self-loops stay in the input but connect nothing, so a node seen only
    # in one gets no row
    links = [(a, b) for a, b in edges if a != b]
    nodes = sorted({n for e in links for n in e})
    uf = UnionFind(nodes)
    for a, b in links:
        uf.union(a, b)
    want = sorted((n, uf.find(n)) for n in nodes)  # min-root convention
    edf = spark.createDataFrame(edges, "a long, b long").repartition(7)
    got = sorted(tuple(r) for r in connected_components(edf).collect())
    assert got == want


def test_contract_block_kernel_matches_union_find_hypothesis():
    """Property: the vectorized Borůvka kernel (_contract_block) induces
    the SAME component partition as a union-find oracle on arbitrary edge
    lists — pure NumPy, no Spark session needed, so hypothesis can afford
    many examples (self-loops, duplicate edges, huge sparse ids, dense
    clique-ish multigraphs)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from libchunk_spark.operators.components import _contract_block
    from libchunk_spark.oracle import UnionFind

    edge = st.tuples(
        st.integers(min_value=0, max_value=2**50),
        st.integers(min_value=0, max_value=2**50),
    )
    small_edge = st.tuples(
        st.integers(min_value=0, max_value=25),
        st.integers(min_value=0, max_value=25),
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(small_edge, max_size=120) | st.lists(edge, max_size=60))
    def check(pairs):
        pairs = [(a, b) for a, b in pairs if a != b]
        a = np.array([p[0] for p in pairs], dtype=np.int64)
        b = np.array([p[1] for p in pairs], dtype=np.int64)
        roots, members = _contract_block(a, b)
        nodes = sorted({*a.tolist(), *b.tolist()})
        assign = dict(zip(members.tolist(), roots.tolist()))
        got_groups: dict[int, set] = {}
        for n_ in nodes:
            got_groups.setdefault(assign.get(n_, n_), set()).add(n_)
        uf = UnionFind(nodes)
        for x, y in pairs:
            uf.union(x, y)
        want_groups: dict[int, set] = {}
        for n_ in nodes:
            want_groups.setdefault(uf.find(n_), set()).add(n_)
        got = {frozenset(g | {r}) for r, g in got_groups.items()}
        want = {frozenset(g | {r}) for r, g in want_groups.items()}
        assert got == want

    check()


def test_local_contract_blocked_flush_preserves_cc(spark):
    """ADVICE r05 low: blocks bound worker memory — a partition bigger than
    block_edges contracts as several independent blocks (plus chunked
    output frames), and the union of per-block star forests must still
    induce the exact same components."""
    from libchunk_spark.operators.components import _local_contract

    k = 25
    clique = [(i, j) for i in range(k) for j in range(i + 1, k)]
    chain = [(1000 + i, 1001 + i) for i in range(30)]
    edf = spark.createDataFrame(clique + chain, "a long, b long").coalesce(1)
    # block_edges far below the partition's edge count -> many flushes;
    # out_chunk tiny -> many output frames per flush
    contracted = _local_contract(edf, block_edges=37, out_chunk=5)
    want = sorted(tuple(r) for r in connected_components(edf).collect())
    got = sorted(tuple(r) for r in connected_components(contracted).collect())
    assert got == want


def test_connected_components_chain_converges(spark):
    """Long path graph — worst case for naive propagation."""
    n = 200
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "a long, b long")
    comp = connected_components(edges)
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == n + 1


_CC_CASES = {
    "basic": test_connected_components_basic,
    "union_find_0": lambda spark: test_connected_components_matches_union_find(
        spark, 0
    ),
    "union_find_1": lambda spark: test_connected_components_matches_union_find(
        spark, 1
    ),
    "incremental_7": lambda spark: test_update_components_equals_full_recluster(
        spark, 7
    ),
    "cross_partition": test_local_contract_cross_partition_components_merge,
    "contract_on_off": test_connected_components_contract_on_off_equal,
    "blocked_flush": test_local_contract_blocked_flush_preserves_cc,
    "chain": test_connected_components_chain_converges,
}


@pytest.fixture
def star_rounds(monkeypatch):
    """Force the large-star/small-star rounds: with the local-finish bound
    at 0 edges, connected_components collects nothing to the driver until
    the rounds reach their fixpoint."""
    from libchunk_spark.operators import components

    monkeypatch.setattr(components, "BLOCK_EDGES", 0)


@pytest.mark.parametrize("case", sorted(_CC_CASES))
def test_connected_components_star_rounds(spark, star_rounds, case):
    """The CC tests above run on the local finish (their graphs are far
    below BLOCK_EDGES); the same checks must hold on the distributed
    rounds that big graphs take."""
    _CC_CASES[case](spark)


def test_connected_components_no_fixpoint_raises(spark, star_rounds):
    """A chain needs several rounds; capped at one, the rounds must raise
    instead of returning a partial labelling."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "a long, b long"
    ).repartition(16)
    with pytest.raises(RuntimeError, match="no fixpoint in 1 rounds"):
        connected_components(edges, max_iterations=1)


def test_connected_components_jobs_independent_of_diameter(spark):
    """Below BLOCK_EDGES a CC call runs a fixed number of jobs: a 200-node
    chain (diameter 199) costs exactly what a 200-node star (diameter 2)
    costs, where the star rounds would pay more rounds for the chain."""
    n = 200
    graphs = {
        "chain": [(i, i + 1) for i in range(n - 1)],
        "star": [(0, i) for i in range(1, n)],
    }
    sc = spark.sparkContext
    jobs = {}
    for name, pairs in graphs.items():
        edges = spark.createDataFrame(pairs, "a long, b long")
        group = f"cc-jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            rows = connected_components(edges).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        assert sorted(tuple(r) for r in rows) == [(i, 0) for i in range(n)]
    assert jobs["chain"] == jobs["star"], jobs


def test_star_edges_preserve_connectivity(spark):
    """Star edges must yield the same components as every pair inside each
    (band, band_hash) bucket of the same signatures (union-find oracle)."""
    from libchunk_spark.oracle import UnionFind

    rows = generate_corpus(n_files=120, seed=77)
    corpus = corpus_to_spark(spark, rows).cache()
    sigs = sign(corpus, CFG).cache()
    star = minhash_candidate_edges(sigs)
    got = {
        r["file_id"]: r["component"]
        for r in connected_components(
            star, all_nodes=corpus.select("file_id")
        ).collect()
    }
    buckets: dict[tuple[int, int], list[int]] = {}
    for r in sigs.select("file_id", "bands").collect():
        for band, h in enumerate(r["bands"]):
            buckets.setdefault((band, h), []).append(r["file_id"])
    uf = UnionFind([r.file_id for r in rows])
    for members in buckets.values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                uf.union(a, b)
    assert got == {f: uf.find(f) for f in uf.parent}


def test_simhash_oversized_block_star_fallback(spark):
    """A block larger than bucket_pair_cap must degrade to star edges, not
    silently drop (round-1 bug: `sized.where(sz <= cap)` discarded it all).

    200 identical simhashes in one block with cap=16 → >= 199 star edges,
    one component, and the Observation records the degradation."""
    import dataclasses

    from pyspark.sql import Observation

    cfg = dataclasses.replace(CFG, bucket_pair_cap=16)
    n = 200
    sig_val = 0x0123456789ABCDEF
    sigs = spark.createDataFrame(
        [(i, sig_val) for i in range(n)], "file_id long, simhash long"
    )
    obs = Observation("simhash_lsh")
    edges = simhash_candidate_edges(sigs, cfg, observation=obs).cache()
    n_edges = edges.count()
    assert n_edges >= n - 1, f"only {n_edges} edges from an oversized block"
    comp = connected_components(edges)
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == n
    assert obs.get["oversized_blocks"] >= 1
    assert obs.get["oversized_rows"] >= n
    # hamming verify still applies on star edges: a far-off member sharing
    # one block must be filtered out.
    far = sig_val ^ 0xFFFFFFFFFFFF0000  # same low block, 48 bits flipped
    far = far - (1 << 64) if far >= (1 << 63) else far  # signed int64 wrap
    sigs2 = spark.createDataFrame(
        [(i, sig_val) for i in range(n)] + [(n, far)],
        "file_id long, simhash long",
    )
    edges2 = simhash_candidate_edges(sigs2, cfg)
    assert edges2.where((F.col("a") == n) | (F.col("b") == n)).count() == 0


def test_fused_chunk_and_sign_equals_separate_stages(spark):
    """Single-pass fused operator must reproduce split() and sign() exactly."""
    from libchunk_spark.operators.fused import (
        chunk_and_sign,
        fused_chunks,
        fused_signatures,
    )

    rows = generate_corpus(n_files=40, seed=13)
    corpus = corpus_to_spark(spark, rows).cache()
    fused = chunk_and_sign(corpus, CFG).cache()
    got_chunks = sorted(
        tuple(r) for r in fused_chunks(fused).collect()
    )
    want_chunks = sorted(
        tuple(r)
        for r in split(corpus, CFG.chunk, keep_payload=False).chunks.collect()
    )
    assert got_chunks == want_chunks
    got_sigs = {r["file_id"]: (r["minhash"], r["simhash"], r["bands"], r["n_shingles"])
                for r in fused_signatures(fused).collect()}
    want_sigs = {r["file_id"]: (r["minhash"], r["simhash"], r["bands"], r["n_shingles"])
                 for r in sign(corpus, CFG).collect()}
    assert got_sigs == want_sigs


def test_fused_index_and_file_keys_equal_split(spark):
    """The fused frame's chunk_index and file_keys projections (incl. the
    content sha carried on pos==0 rows) must equal split()'s — the tables
    run_pipeline now derives from the single-pass stage."""
    from libchunk_spark.operators.fused import (
        chunk_and_sign,
        fused_chunk_index,
        fused_file_keys,
    )

    rows = generate_corpus(n_files=30, seed=14)
    empty_file = spark.createDataFrame(  # + an empty file
        [(9999, "r", "p", "c", "txt", "", 0, "x")],
        "file_id long, repo string, path string, commit string, lang string, "
        "content string, family long, kind string",
    )
    corpus = corpus_to_spark(spark, rows).unionByName(empty_file).cache()
    fused = chunk_and_sign(corpus, CFG, keep_payload=True).cache()
    sp = split(corpus, CFG.chunk, keep_payload=True)
    got_idx = sorted(tuple(r) for r in fused_chunk_index(fused).collect())
    want_idx = sorted(tuple(r) for r in sp.chunk_index.collect())
    assert got_idx == want_idx
    got_fk = sorted(
        (r["file_id"], r["content_sha256"], r["n_chunks"], tuple(r["keys"]))
        for r in fused_file_keys(fused).collect()
    )
    want_fk = sorted(
        (r["file_id"], r["content_sha256"], r["n_chunks"], tuple(r["keys"]))
        for r in sp.file_keys.collect()
    )
    assert got_fk == want_fk
    # the empty file is present with zero chunks and the empty-string sha
    empty = [fk for fk in got_fk if fk[0] == 9999]
    assert empty and empty[0][2] == 0 and empty[0][3] == ()
