"""Seeded inputs for the benchmark workloads.

Every input is a pure function of the workload seed, so the same seed gives
byte-identical inputs and a claim can be rechecked on a seed that was not
used while writing the change. The program under test only ever receives
the generated files; it never sees the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from libchunk_spark.fixtures import generate_corpus, generate_corpus_fast

CORPUS_COLUMNS = ["file_id", "repo", "path", "commit", "lang", "content"]

# Vocabulary and mix of the registry's `documents` table (doc_id, text, lang,
# source, n_chars): short word-salad documents, 5% of them near-duplicates
# ("<text of another doc> dup"), the shape of the repository's test tables.
_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DOC_LANGS = ["en", "zh", "es", "fr", "de"]
_DOC_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def corpus_rows(seed: int, n_fast: int, n_planted: int) -> list[tuple]:
    """Source-code corpus rows in CORPUS_COLUMNS order.

    `n_planted` files from fixtures.generate_corpus carry exact, near, fuzzy
    and containment duplicates (ids 0..n_planted-1, the oracle's files);
    `n_fast` files from generate_corpus_fast (30% near-dup families) follow
    with ids from n_planted on and carry the bulk of the bytes.
    """
    rows = planted_rows(seed, n_planted)
    for fid, content in generate_corpus_fast(n_fast, seed=seed + 1):
        i = n_planted + fid
        rows.append((i, "bulk/repo", f"src/f{i}.py", "-", "py", content))
    return rows


def planted_rows(seed: int, n_files: int) -> list[tuple]:
    """fixtures.generate_corpus rows in CORPUS_COLUMNS order, ids 0..n-1:
    bases plus exact, near, fuzzy and containment copies of earlier ones."""
    return [
        (r.file_id, r.repo, r.path, r.commit, r.lang, r.content)
        for r in generate_corpus(n_files=n_files, seed=seed)
    ]


def write_corpus_parquet(rows: list[tuple], path: str) -> None:
    """One parquet file (one row group) of corpus rows."""
    cols = list(zip(*rows)) if rows else [[] for _ in CORPUS_COLUMNS]
    table = pa.table(
        {
            "file_id": pa.array(cols[0], pa.int64()),
            **{
                name: pa.array(col, pa.string())
                for name, col in zip(CORPUS_COLUMNS[1:], cols[1:])
            },
        }
    )
    pq.write_table(table, path)


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """The registry's `documents` table: doc_id, text, lang, source, n_chars."""
    rng = np.random.default_rng(seed)
    words = np.array(_DOC_WORDS, dtype=object)
    texts: list[str] = []
    for _ in range(n_docs):
        n = int(rng.integers(10, 101))
        texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    # near-duplicates copy another document's text and append one word, so
    # every pair is (copy, source) with Jaccard close to 1
    n_dups = n_docs // 20
    dup_ids = rng.choice(n_docs, size=n_dups, replace=False)
    for i in dup_ids:
        j = int(rng.integers(n_docs))
        if j != i:
            texts[i] = texts[j] + " dup"
    langs = rng.choice(_DOC_LANGS, size=n_docs, p=_DOC_LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def planted_doc_pairs(texts: list[str]) -> list[tuple[int, int]]:
    """(copy, source) id pairs of the planted near-duplicates, smaller id
    first: every document whose text is another document's text + " dup"."""
    by_text: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    return sorted(
        (min(i, j), max(i, j))
        for i, t in enumerate(texts)
        if t.endswith(" dup")
        for j in by_text.get(t[: -len(" dup")], [])
    )
