#!/usr/bin/env python
"""Optimization-round helper bench (bench.py is FROZEN for measurement).

Modes:
  python bench_extra.py time  [query ...]   — noop-sink per-query timing
  python bench_extra.py plans [query ...]   — .explain("formatted") to plans/r08/

Env mirrors bench.py: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, plus
  SPARK_GRAFT_EXTRA_REPEATS (default 3, best-of-N per query)
  SPARK_GRAFT_PLAN_SUFFIX   (default "after" — plans/r08/<q>_<suffix>.txt)

The noop sink (guide §1.4) computes every column of every row and discards
the result, so the timing isolates the computation from any output sink;
jobs are labelled via setJobDescription (guide §1.5).

`plans` mode builds each query, and building runs the query's eager
in-query checkpoints (localCheckpoint) as Spark jobs. A dump therefore
stops at each checkpoint's scan (an RDD scan node): the plan below it was
already executed and is not in the file.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeats = int(os.environ.get("SPARK_GRAFT_EXTRA_REPEATS", "3"))
    suffix = os.environ.get("SPARK_GRAFT_PLAN_SUFFIX", "after")

    from pyspark.sql import functions as F

    from libchunk_spark import queries as Q
    from libchunk_spark.session import get_spark

    spark = get_spark(app="bench_extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    if not names:
        names = list(Q.QUERIES.keys())

    if mode == "plans":
        out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "plans", "r08")
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            df = Q.QUERIES[name][0](spark, sf_dir)
            # capture the formatted physical plan (pre-execution; AQE final
            # plans differ but Exchange/join/UDF shape is what we assert)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(txt)
            print(f"wrote {path}")
        spark.stop()
        return

    # ---- timing mode: warm the python worker pool + codegen first, the
    # same discipline as bench.py
    warm = spark.createDataFrame(
        [(i, "warm up text " * 20) for i in range(cpus * 8)],
        "file_id long, content string",
    ).repartition(cpus)
    from libchunk_spark.config import CORPUS_PIPELINE_CONFIG as CCFG
    from libchunk_spark.operators.sign import sign

    sign(warm, CCFG).agg(F.sum("n_shingles")).collect()
    spark.range(1000).select(F.sha2(F.col("id").cast("string"), 256)).count()

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    results: dict[str, float] = {}
    for name in names:
        fn = Q.QUERIES[name][0]
        best = None
        for _rep in range(repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            noop(fn(spark, sf_dir))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        spark.sparkContext.setJobDescription(None)
        results[name] = round(best, 3)
        print(f"{name}: {results[name]}", file=sys.stderr)

    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "repeats": repeats,
                      "stat": "best_of_n_noop", "queries": results,
                      "total_best": round(sum(results.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
