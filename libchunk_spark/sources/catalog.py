"""Stage checkpoint catalog — the storage seam.

Each pipeline stage is written as a parquet directory plus a
``_manifest.json`` carrying snapshot metadata: stage name, config
fingerprint, input lineage (upstream manifest ids), row count and
per-partition metrics. A stage whose manifest is complete and whose config
fingerprint matches is *skipped* on re-run — the resumability contract from
BASELINE.json ("checkpoint each stage ... for resumability with
per-partition lineage and metrics").

When an Iceberg catalog is configured on the session (runtime jar present),
the same API writes Iceberg tables via ``writeTo``; this sandbox has no
Iceberg jar, so the parquet+manifest path is the tested one — all code above
this seam is identical (SURVEY.md §7).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_manifest.json"


def merge_insert_sql(table: str, source_view: str, key_cols: list[str]) -> str:
    """The Iceberg idempotent-append MERGE statement (pure construction so
    the only jar-gated thing is execution, not the code path's logic)."""
    cond = " AND ".join(f"t.{c} = s.{c}" for c in key_cols)
    return (
        f"MERGE INTO {table} t USING {source_view} s ON {cond} "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def config_fingerprint(obj: Any) -> str:
    """Stable fingerprint of a (nested) config object — the 'secret scope'
    that keys dedup identity (bits/secret.go:12-31 analog)."""

    def enc(o):
        if hasattr(o, "__dataclass_fields__"):
            return {k: enc(getattr(o, k)) for k in o.__dataclass_fields__}
        if isinstance(o, dict):
            return {k: enc(v) for k, v in sorted(o.items())}
        if isinstance(o, (list, tuple)):
            return [enc(x) for x in o]
        return o

    blob = json.dumps(enc(obj), sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def _footer_rows(path: str) -> list[dict]:
    """Per-write-task row counts of a parquet directory, read from the
    part-file footers (``part-<task>-<uuid>...``; a task that rolled over
    to several files is summed)."""
    import pyarrow.parquet as pq

    rows: dict[int, int] = {}
    for f in glob.glob(os.path.join(path, "part-*")):
        task = int(os.path.basename(f).split("-")[1])
        rows[task] = rows.get(task, 0) + pq.ParquetFile(f).metadata.num_rows
    return [{"partition": p, "rows": n} for p, n in sorted(rows.items())]


@dataclass
class StageCatalog:
    """Checkpoint manager rooted at a directory (or Iceberg namespace)."""

    root: str
    iceberg_catalog: str | None = None  # e.g. "local.db" when a jar is present
    _manifests: dict[str, dict] = field(default_factory=dict)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), MANIFEST)

    def manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def is_complete(self, stage: str, fingerprint: str) -> bool:
        m = self.manifest(stage)
        return bool(m and m.get("complete") and m.get("fingerprint") == fingerprint)

    def write_stage(
        self,
        stage: str,
        df: DataFrame,
        fingerprint: str,
        inputs: list[str] | None = None,
    ) -> DataFrame:
        """Write df as the stage checkpoint (skip if already complete).

        The write is the only job: the manifest's per-partition row counts
        come from the parquet footers of the part files just written (one
        entry per write task), and the stored schema lets read_stage skip
        Spark's schema-inference job. The Iceberg path rolls the counts up
        from a re-read instead.
        """
        spark = df.sparkSession
        if self.is_complete(stage, fingerprint):
            return self.read_stage(spark, stage)

        path = self._dir(stage)
        snapshot_id = uuid.uuid4().hex
        t0 = time.time()
        if self.iceberg_catalog:
            df.writeTo(f"{self.iceberg_catalog}.{stage}").createOrReplace()
            part_metrics = [
                {"partition": int(r["p"]), "rows": int(r["rows"])}
                for r in self.read_stage(spark, stage)
                .groupBy(F.spark_partition_id().alias("p"))
                .agg(F.count("*").alias("rows"))
                .collect()
            ]
        else:
            df.write.mode("overwrite").parquet(path)
            part_metrics = _footer_rows(path)
        manifest = {
            "stage": stage,
            "snapshot_id": snapshot_id,
            "fingerprint": fingerprint,
            "inputs": inputs or [],
            "rows": sum(m["rows"] for m in part_metrics),
            "partitions": part_metrics,
            "schema": df.schema.json(),
            "wall_sec": round(time.time() - t0, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "complete": True,
        }
        os.makedirs(path, exist_ok=True)
        with open(self._manifest_path(stage), "w") as f:
            json.dump(manifest, f, indent=1)
        self._manifests[stage] = manifest
        return self.read_stage(spark, stage)

    def _table_name(self, stage: str) -> str:
        """Catalog-safe table identifier, scoped by the catalog root so two
        StageCatalogs in one session never collide."""
        import re

        scope = hashlib.sha256(self.root.encode()).hexdigest()[:8]
        return "lcs_" + scope + "_" + re.sub(r"[^A-Za-z0-9_]", "_", stage)

    def write_stage_bucketed(
        self,
        stage: str,
        df: DataFrame,
        fingerprint: str,
        bucket_cols: list[str],
        n_buckets: int,
        inputs: list[str] | None = None,
    ) -> DataFrame:
        """Bucketed stage checkpoint (VERDICT r05 next #8; SCALE.md §2):
        the table is hash-bucketed AND sorted by `bucket_cols`, so every
        downstream equi-join or aggregation on those columns reads the
        files already co-located — Catalyst plans NO Exchange on this side
        (pytest-asserted for assemble's chunk-index join). At 10^12 chunk
        keys that is the difference between shuffling the full index per
        assemble/move and shuffling only the (much smaller) key-list side.

        Mechanics: parquet `bucketBy(...).sortBy(...).saveAsTable` with an
        explicit path under the catalog root. Bucket metadata lives in the
        session catalog (this sandbox runs the default in-memory catalog;
        a Hive/Iceberg catalog would persist it across sessions — the same
        jar-gated seam as the Iceberg MERGE path). chunk keys are sha256
        hex, so the bucket hash is skew-free by construction.
        """
        spark = df.sparkSession
        table = self._table_name(stage)
        if self.is_complete(stage, fingerprint) and spark.catalog.tableExists(
            table
        ):
            return spark.table(table)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        path = self._dir(stage)
        t0 = time.time()
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .option("path", path)
            .saveAsTable(table)
        )
        out = spark.table(table)
        manifest = {
            "stage": stage,
            "snapshot_id": uuid.uuid4().hex,
            "fingerprint": fingerprint,
            "inputs": inputs or [],
            "rows": out.count(),
            "table": table,
            "bucket_cols": bucket_cols,
            "n_buckets": n_buckets,
            "wall_sec": round(time.time() - t0, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "complete": True,
        }
        os.makedirs(path, exist_ok=True)
        with open(self._manifest_path(stage), "w") as f:
            json.dump(manifest, f, indent=1)
        self._manifests[stage] = manifest
        return out

    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        if self.iceberg_catalog:
            return spark.read.table(f"{self.iceberg_catalog}.{stage}")
        m = self.manifest(stage)
        # bucketed stages must read through the session catalog — a plain
        # parquet read of the same files would silently lose the bucket
        # spec and re-introduce the Exchange the write paid to avoid
        if m and m.get("table") and spark.catalog.tableExists(m["table"]):
            return spark.table(m["table"])
        reader = spark.read
        if m and m.get("schema"):
            reader = reader.schema(StructType.fromJson(json.loads(m["schema"])))
        return reader.parquet(self._dir(stage))

    def merge_append(
        self,
        stage: str,
        df: DataFrame,
        key_cols: list[str],
        fingerprint: str,
        inputs: list[str] | None = None,
    ) -> DataFrame:
        """Idempotent keyed append — the transactional analog of the
        reference Store.Put contract ("will do nothing if exists, must be
        atomic", bits/bits.go:51-52; BoltStore existence check
        bits/store/bolt.go:52-55).

        Iceberg path: ``MERGE INTO ... WHEN NOT MATCHED THEN INSERT *`` —
        snapshot-isolated, concurrent-writer safe. Parquet path (tested in
        this sandbox, no Iceberg jar): left-anti join against the existing
        keys, then append; same result, directory-level atomicity only.
        Re-merging the same batch is a no-op on both paths.
        """
        spark = df.sparkSession
        # intra-batch key uniqueness on EVERY path: MERGE's WHEN NOT MATCHED
        # and the left-anti append both admit two same-key rows from one
        # batch; only the first-write path deduped before this line.
        df = df.dropDuplicates(key_cols)
        if self.iceberg_catalog:
            tbl = f"{self.iceberg_catalog}.{stage}"
            if not spark.catalog.tableExists(tbl):
                df.writeTo(tbl).create()
            else:
                view = f"_merge_src_{stage}"
                df.createOrReplaceTempView(view)
                spark.sql(merge_insert_sql(tbl, view, key_cols))
            return self.read_stage(spark, stage)

        path = self._dir(stage)
        m = self.manifest(stage)
        if m and m.get("complete"):
            existing_keys = self.read_stage(spark, stage).select(*key_cols)
            new_rows = df.join(existing_keys, key_cols, "left_anti")
            new_rows.write.mode("append").parquet(path)
        else:
            df.write.mode("overwrite").parquet(path)
        out = self.read_stage(spark, stage)
        manifest = {
            "stage": stage,
            "snapshot_id": uuid.uuid4().hex,
            "fingerprint": fingerprint,
            "inputs": inputs or [],
            "rows": out.count(),
            "merge_keys": key_cols,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "complete": True,
        }
        os.makedirs(path, exist_ok=True)
        with open(self._manifest_path(stage), "w") as f:
            json.dump(manifest, f, indent=1)
        self._manifests[stage] = manifest
        return out
