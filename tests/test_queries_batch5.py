"""Targeted tests for the round-6 batch-5 queries (oracle parity itself is
covered for every registry entry by test_entry.py).

* dup_substrings — planted shared passage is found and span-merged; an
  exact-dup doc is 100% duplicated; fractions are bounded.
* bm25_top_docs — probe-set shape, rank contiguity, and score monotonicity
  within each term (idf is a per-term constant, so the reported bm25 must
  be non-increasing in rank).
* passage_windows — exact window layout on synthetic token counts (1, 64,
  65, 112, 200), full contiguous coverage on the corpus, and a
  shuffle-free plan (the op must stay map-only).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from libchunk_spark import queries as Q
from plan_nodes import exchange_kinds

SF = "/root/testdata/sf0.001"


def _write_docs(spark, tmp_path, texts):
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    return d


def test_dup_substrings_planted_passage_merged(spark, tmp_path):
    # one 60-char passage shared verbatim by docs 0 and 1; doc 2 is unique.
    # Unique filler is long enough that no OTHER >=L window repeats.
    shared = (
        "the quick brown fox jumps over the lazy dog again and again and more"
    )
    assert len(shared) >= 2 * Q.DUP_SUBSTR_L  # long enough to span-merge
    import random

    rng = random.Random(7)
    filler = lambda n: "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))
    texts = [
        filler(80) + shared + filler(80),
        filler(80) + shared + filler(80),
        filler(220),
    ]
    d = _write_docs(spark, tmp_path, texts)
    rows = {r["doc_id"]: r for r in Q.q_dup_substrings(spark, d).collect()}
    L = Q.DUP_SUBSTR_L
    for doc in (0, 1):
        r = rows[doc]
        # every L-window inside the shared passage repeats -> ONE merged
        # span covering exactly the passage (starts at 81, 1-indexed)
        assert r["n_dup_spans"] == 1
        assert r["dup_chars"] == len(shared)
        assert abs(r["dup_frac"] - len(shared) / len(texts[doc])) < 1e-3
    assert rows[2]["n_dup_spans"] == 0
    assert rows[2]["dup_frac"] == 0.0


def test_dup_substrings_exact_dup_doc_fully_covered(spark, tmp_path):
    # two identical docs: every window repeats, one span = whole doc
    t = "x" * 10 + "identical content here repeated across two documents" + "y" * 10
    d = _write_docs(spark, tmp_path, [t, t])
    rows = Q.q_dup_substrings(spark, d).collect()
    for r in rows:
        assert r["n_dup_spans"] == 1
        assert r["dup_chars"] == len(t)
        assert r["dup_frac"] == 1.0


def test_dup_substrings_corpus_bounds(spark):
    rows = Q.q_dup_substrings(spark, SF).collect()
    assert len(rows) == 500
    assert any(r["n_dup_spans"] > 0 for r in rows)  # planted near-dups exist
    for r in rows:
        assert 0.0 <= r["dup_frac"] <= 1.0
        assert r["dup_chars"] >= r["n_dup_spans"] * Q.DUP_SUBSTR_L or (
            r["n_dup_spans"] == 0 and r["dup_chars"] == 0
        )


def test_bm25_shape_and_monotonic(spark):
    rows = Q.q_bm25_top_docs(spark, SF).collect()
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    assert len(by_term) == Q.BM25_N_TERMS
    for term, rs in by_term.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= Q.BM25_TOP_DOCS
        scores = [r["bm25"] for r in rs]
        # idf constant per term -> reported score non-increasing in rank
        # (4-dp rounding can only tie, never invert)
        assert all(a >= b for a, b in zip(scores, scores[1:]))
        assert all(s > 0 for s in scores)


def test_passage_windows_synthetic_layouts(spark, tmp_path):
    mk = lambda n: " ".join(f"t{i}" for i in range(n))
    texts = [mk(1), mk(64), mk(65), mk(112), mk(200)]
    d = _write_docs(spark, tmp_path, texts)
    out = Q.q_passage_windows(spark, d).collect()
    per_doc: dict[int, list] = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    W, S = Q.PASSAGE_TOKENS, Q.PASSAGE_STRIDE
    expect_n = {0: 1, 1: 1, 2: 2, 3: 2, 4: 4}  # ceil((n-64)/48)+1, min 1
    for doc, n_tokens in enumerate([1, 64, 65, 112, 200]):
        rs = sorted(per_doc[doc], key=lambda r: r["passage_idx"])
        assert len(rs) == expect_n[doc], (doc, [r.asDict() for r in rs])
        assert rs[0]["start_token"] == 0
        for i, r in enumerate(rs):
            assert r["passage_idx"] == i
            assert r["start_token"] == i * S
            assert r["passage_tokens"] == min(W, n_tokens - i * S)
            assert r["passage_tokens"] >= 1
        # contiguous coverage to the last token
        assert rs[-1]["start_token"] + rs[-1]["passage_tokens"] == n_tokens


def test_passage_windows_corpus_coverage_and_maponly_plan(spark):
    df = Q.q_passage_windows(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the only allowed exchange is the scan-parallelism round-robin spread
    # (scan.read_parallel, r8) — no algorithmic shuffle
    assert "hashpartitioning" not in plan, "passage extraction must stay map-only"
    kinds = exchange_kinds(plan)
    assert set(kinds) <= {"Exchange RoundRobinPartitioning"}, (kinds, plan)
    toks = Q.q_token_stats(spark, SF).select("doc_id", "n_tokens")
    agg = (
        df.groupBy("doc_id")
        .agg(
            F.min("start_token").alias("first"),
            F.max(F.col("start_token") + F.col("passage_tokens")).alias("cover"),
            F.count("*").alias("n_passages"),
        )
        .join(toks, "doc_id")
        .collect()
    )
    assert len(agg) == 500
    for r in agg:
        assert r["first"] == 0
        assert r["cover"] == r["n_tokens"]
    # passage identity is content-addressable: identical docs share shas
    shas = df.groupBy("passage_sha").count()
    assert shas.where("count >= 2").count() > 0  # planted dups share passages


def _rand_text(rng, n):
    import string

    return "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(n))


def test_chunk_dup_detail_exact_dup_fully_covered(spark):
    import random

    from libchunk_spark.config import DOCS_CONFIG

    rng = random.Random(11)
    t = _rand_text(rng, 800)  # several chunks at the 64..256 docs config
    corpus = spark.createDataFrame(
        [(0, t), (1, t), (2, _rand_text(rng, 500))],
        "file_id long, content string",
    )
    rows = {
        r["file_id"]: r
        for r in Q.chunk_dup_detail(corpus, DOCS_CONFIG.chunk).collect()
    }
    for doc in (0, 1):
        assert rows[doc]["dup_bytes"] == rows[doc]["total_bytes"] == 800
        assert rows[doc]["n_dup_spans"] == 1
        assert rows[doc]["n_chunks"] >= 3
    assert rows[2]["dup_bytes"] == 0 and rows[2]["n_dup_spans"] == 0


def test_chunk_dup_detail_partial_copy_resyncs(spark):
    """The CDC re-sync guarantee that makes chunk-granularity dup spans
    work: a shared block embedded in two DIFFERENT contexts re-syncs to
    identical interior chunks after at most max_size bytes on each edge,
    so dup_bytes >= len(shared) - 2*max_size and the dup chunks form ONE
    contiguous span."""
    import random

    from libchunk_spark.config import DOCS_CONFIG

    cfg = DOCS_CONFIG.chunk
    rng = random.Random(13)
    shared = _rand_text(rng, 1500)
    corpus = spark.createDataFrame(
        [
            (0, _rand_text(rng, 300) + shared + _rand_text(rng, 300)),
            (1, _rand_text(rng, 250) + shared + _rand_text(rng, 350)),
        ],
        "file_id long, content string",
    )
    rows = {r["file_id"]: r for r in Q.chunk_dup_detail(corpus, cfg).collect()}
    floor = len(shared) - 2 * cfg.max_size
    for doc in (0, 1):
        assert rows[doc]["dup_bytes"] >= floor, rows[doc]
        assert rows[doc]["dup_bytes"] < rows[doc]["total_bytes"]
        assert rows[doc]["n_dup_spans"] == 1


def test_chunk_dup_spans_corpus_invariants(spark):
    rows = Q.q_chunk_dup_spans(spark, SF).collect()
    assert len(rows) == 500
    assert all(r["dup_ok"] for r in rows)
    # the planted near-dup corpus must show chunk-level duplication
    from libchunk_spark.config import DOCS_CONFIG

    det = Q.chunk_dup_detail(Q._docs_corpus(spark, SF), DOCS_CONFIG.chunk)
    assert det.where("dup_bytes > 0").count() > 0


def test_band_skew_report_reconciles_with_candidates(spark):
    rows = Q.q_band_skew_report(spark, SF).collect()
    n_bands = Q.N_PERMS_SQL // Q.BAND_ROWS_SQL
    assert len(rows) == n_bands
    for r in rows:
        assert r["n_docs"] == 500  # every doc lands in every band once
        assert 1 <= r["max_bucket"] <= r["n_docs"]
        assert r["n_buckets"] <= r["n_docs"]
        assert r["p99_bucket"] <= r["max_bucket"]
        # the cap counter and the pair predictor must agree with max
        assert r["cand_pairs"] >= r["max_bucket"] * (r["max_bucket"] - 1) // 2
    # every LSH candidate pair is counted (with band multiplicity) in the
    # predictor, so the predictor bounds the distinct pair count
    n_pairs = Q.q_lsh_band_pairs(spark, SF).count()
    assert sum(r["cand_pairs"] for r in rows) >= n_pairs


def test_passage_delta_reconciles(spark):
    """added + unchanged == distinct shas in the new snapshot;
    removed + unchanged == distinct shas in the old; all three classes
    are non-trivial on the corpus (both snapshots drop a different
    doc_id decile, and near-dup docs share passages across deciles)."""
    rows = {r["change"]: r["n_shas"] for r in Q.q_passage_delta(spark, SF).collect()}
    assert set(rows) == {"added", "removed", "unchanged"}
    p = Q.q_passage_windows(spark, SF).select("doc_id", "passage_sha")
    n_old = p.where("doc_id % 10 != 0").select("passage_sha").distinct().count()
    n_new = p.where("doc_id % 10 != 1").select("passage_sha").distinct().count()
    assert rows["added"] + rows["unchanged"] == n_new
    assert rows["removed"] + rows["unchanged"] == n_old
    assert rows["unchanged"] > 0 and rows["added"] > 0 and rows["removed"] > 0


def test_perm_family_is_minwise_on_random_sets():
    """Pure-Python guard on the SQL-demo perm family itself (no Spark):
    P(argmin collision) must track Jaccard. This pins the exact failure
    minhash_calibration caught — the old 2^61-1 modulus over 31-bit
    inputs never wrapped, so ALL perms shared one argmin order and any
    two sets sharing their min element estimated J = 1.0."""
    import random

    from libchunk_spark.queries import MH_PRIME, N_PERMS_SQL, _perm_constants

    perms = _perm_constants()
    rng = random.Random(99)

    def est(sa, sb):
        agree = 0
        for _, a, b in perms:
            ma = min((a * h + b) % MH_PRIME for h in sa)
            mb = min((a * h + b) % MH_PRIME for h in sb)
            agree += ma == mb
        return agree / N_PERMS_SQL

    # (1) the historical failure shape: two sets sharing exactly ONE
    # element, which also carries the globally smallest raw hash — the
    # broken family read est = 1.0 here; honest perms must not.
    shared = 3  # tiny raw hash: the old family's argmin for every perm
    sa = frozenset([shared] + [rng.randrange(1 << 20, MH_PRIME) for _ in range(80)])
    sb = frozenset([shared] + [rng.randrange(1 << 20, MH_PRIME) for _ in range(80)])
    assert est(sa, sb) < 0.5, "min-raw-hash element must not win every perm"

    # (2) calibration over random pairs at mixed similarity levels
    errs = []
    for _ in range(60):
        n = rng.randrange(30, 120)
        base = [rng.randrange(MH_PRIME) for _ in range(n)]
        keep = rng.uniform(0.1, 0.9)
        a_set = frozenset(base)
        b_set = frozenset(
            [h for h in base if rng.random() < keep]
            + [rng.randrange(MH_PRIME) for _ in range(int(n * (1 - keep)))]
        )
        j = len(a_set & b_set) / len(a_set | b_set)
        errs.append(est(a_set, b_set) - j)
    n = len(errs)
    bias = sum(errs) / n
    mae = sum(abs(e) for e in errs) / n
    # 16 perms: per-pair sd <= 0.125 -> mean |err| well under 0.15, and
    # the estimator must be near-unbiased over mixed-J pairs
    assert mae < 0.15, (mae, bias)
    assert abs(bias) < 0.06, (mae, bias)


def test_minhash_calibration_error_within_theory(spark):
    """16-perm MinHash: per-pair |err| is Binomial(16, J)/16-distributed,
    sd <= 0.125; the MEAN abs error over candidate pairs should sit well
    under 2 sd, and the estimator must not be grossly biased."""
    r = Q.q_minhash_calibration(spark, SF).collect()[0]
    assert r["n_pairs"] == Q.q_lsh_band_pairs(spark, SF).count()
    assert r["n_pairs"] > 0
    assert 0.0 <= r["mean_abs_err"] <= 0.25
    assert r["max_abs_err"] <= 0.8
    assert abs(r["bias"]) <= r["mean_abs_err"] + 1e-9
