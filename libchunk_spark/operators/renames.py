"""Git-style rename/move detection between two snapshots of a source-code
corpus — the history-aware dedup operator for code payloads.

A file whose path changed between snapshots is the same logical artifact;
a dedup/curation pipeline that treats the change as delete+add
double-counts the content and severs its lineage. Two tiers, mirroring
git's rename machinery (a public algorithm: diffcore-rename's exact
content match followed by a similarity score over content samples):

* exact  — content sha256 equality between a path present only in the OLD
  snapshot and one present only in the NEW snapshot (git -M100). The
  content-addressed skip is the same identity trick as libchunk's indexed
  move (/root/reference/bits/move.go: already-present K-keys are not
  re-sent), applied at whole-file granularity.
* edited — winnowed-fingerprint containment >= sim_threshold between the
  remaining removed/added files (git's -M<score>, with Schleimer
  winnowing standing in for git's line-hash sampling; threshold on
  shared/min(|A|,|B|) so a rename that also SHRANK the file still
  scores high).

Both tiers pair only within a repo (git's scope). Cross-repo moves are a
different question (cross_source_dups / components answer it globally).

Scale shape: the exact tier is one anti-join per side on (repo, path) —
partition-prunable when snapshots are stored partitioned by repo — plus a
sha equi-join (skew-free crypto keys). The fuzzy tier fingerprints ONLY
the removed/added leftovers (typically a tiny fraction of a snapshot
diff), df-caps fingerprints before the equi-join (boilerplate headers
otherwise fan out), and joins on (fp, repo). The oracle-checked
documents-table twin is queries.py::q_rename_candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libchunk_spark.operators.overlap import df_capped
from libchunk_spark.operators.winnow import (
    WINNOW_K,
    WINNOW_W,
    winnow_fingerprints,
)

# unit separator — never appears in repo/path strings
_SEP = "\x1f"


def snapshot_changes(
    old: DataFrame, new: DataFrame, key_cols: tuple[str, str] = ("repo", "path")
) -> tuple[DataFrame, DataFrame]:
    """(removed, added): rows whose (repo, path) key is present in only
    one snapshot. Paths present in both are in-place edits, not rename
    candidates (git semantics)."""
    keys = list(key_cols)
    removed = old.join(new.select(*keys).distinct(), keys, "left_anti")
    added = new.join(old.select(*keys).distinct(), keys, "left_anti")
    return removed, added


def rename_pairs(
    old: DataFrame,
    new: DataFrame,
    *,
    repo_col: str = "repo",
    path_col: str = "path",
    content_col: str = "content",
    sim_threshold: float = 0.5,
    df_cap: int = 64,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    hasher: str = "xxhash64",
) -> DataFrame:
    """(repo, old_path, new_path, kind, sim) rename candidates between two
    snapshot DataFrames of (repo, path, content) shape.

    kind = 'exact' (sha equality, sim = 1.0) or 'edited' (winnow
    containment >= sim_threshold among the non-exact leftovers). Exact
    matches remove BOTH endpoints from the fuzzy tier's input, so a pure
    rename is never also reported as edited. Where content is duplicated,
    every (removed, added) combination is emitted — candidate semantics,
    like git's rename-candidate phase before its one-to-one assignment.
    """
    removed, added = snapshot_changes(old, new, (repo_col, path_col))
    r_sha = removed.select(
        F.col(repo_col).alias("repo"),
        F.col(path_col).alias("old_path"),
        F.sha2(F.encode(content_col, "UTF-8"), 256).alias("sha"),
        F.col(content_col).alias("_oc"),
    )
    a_sha = added.select(
        F.col(repo_col).alias("repo"),
        F.col(path_col).alias("new_path"),
        F.sha2(F.encode(content_col, "UTF-8"), 256).alias("sha"),
        F.col(content_col).alias("_nc"),
    )
    exact = (
        r_sha.select("repo", "old_path", "sha")
        .join(a_sha.select("repo", "new_path", "sha"), ["repo", "sha"])
        .select(
            "repo",
            "old_path",
            "new_path",
            F.lit("exact").alias("kind"),
            F.lit(1.0).alias("sim"),
        )
    )
    # fuzzy tier over the leftovers: drop every exact-matched endpoint
    r_rest = r_sha.join(
        exact.select("repo", "old_path").distinct(), ["repo", "old_path"], "left_anti"
    )
    a_rest = a_sha.join(
        exact.select("repo", "new_path").distinct(), ["repo", "new_path"], "left_anti"
    )
    un = r_rest.select(
        F.concat_ws(_SEP, F.lit("o"), "repo", "old_path").alias("rid"),
        F.col("_oc").alias("content"),
    ).unionByName(
        a_rest.select(
            F.concat_ws(_SEP, F.lit("n"), "repo", "new_path").alias("rid"),
            F.col("_nc").alias("content"),
        )
    )
    fps_all = winnow_fingerprints(
        un, id_col="rid", text_col="content", k=k, w=w, hasher=hasher
    )
    fps = df_capped(fps_all, "fp", df_cap)
    # sizes from the UNCAPPED sets (ADVICE r06: capped sizing inflates
    # containment for boilerplate-heavy files)
    sizes = fps_all.groupBy("rid").agg(F.count("*").alias("sz"))
    parts = F.split(F.col("rid"), _SEP)
    side = lambda d: d.select(  # noqa: E731
        parts.getItem(0).alias("side"),
        parts.getItem(1).alias("repo"),
        parts.getItem(2).alias("path"),
        "fp",
        "rid",
    )
    fo = side(fps).where(F.col("side") == "o")
    fa = side(fps).where(F.col("side") == "n")
    shared = (
        fo.select("repo", F.col("path").alias("old_path"), "fp",
                  F.col("rid").alias("orid"))
        .join(
            fa.select("repo", F.col("path").alias("new_path"), "fp",
                      F.col("rid").alias("nrid")),
            ["repo", "fp"],
        )
        .groupBy("repo", "old_path", "new_path", "orid", "nrid")
        .agg(F.count("*").alias("shared"))
    )
    edited = (
        shared.join(sizes.withColumnRenamed("rid", "orid").withColumnRenamed("sz", "na"), "orid")
        .join(sizes.withColumnRenamed("rid", "nrid").withColumnRenamed("sz", "nb"), "nrid")
        .withColumn("sim", F.round(F.col("shared") / F.least("na", "nb"), 4))
        .where(F.col("sim") >= sim_threshold)
        .select("repo", "old_path", "new_path", F.lit("edited").alias("kind"), "sim")
    )
    return exact.unionAll(edited)
