#!/usr/bin/env python3
"""Repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 10 --trace 0

Load model: closed loop, one client. A single process drives one
`local[N]` Spark session (N = min(2, nproc)) and starts each operation
only after the previous one finished; nothing else runs alongside.
`setup_s` is the median of five input preparations (inputs and expected
outputs, pure Python, run before the JVM starts) plus the workload's
Spark-side warm state, if it has any; the JVM start is reported apart. Timed operations then repeat until
`--seconds` have passed (at least one). The first operation runs in the
fresh session, so it pays JIT compilation and Python worker start-up, as
every run of a batch job does. Every operation's output is checked after
it, outside the timed region.

With `--trace 1` the run instead performs one traced operation: the same
code, with Spark's event log on and Spark work attributed to the spans
around each layer call (perfbench/trace.py). The trace is written to
`.perfbench/trace-<workload>-seed<seed>.json`.

Stdout: a `{"detail": ...}` line (per-operation samples, per-step times,
host canary, checks, per-span table when traced), then the result line
`{"correct", "attempted", "failed", "metrics"}`. A failed operation or
output check gives `"correct": false` and no metrics. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics as M  # noqa: E402
from perfbench import trace as T  # noqa: E402

# setup_s takes the median input preparation; the first ones still pay
# first-use costs (table builds, allocator growth), so the median of three
# moved with them
PREPARE_REPEATS = 5
JVM_HEAP = "3g"  # the host's memory is shared; the workloads need far less
# Spark task threads. The operations are bound by Spark's per-job overhead,
# not by parallel work: on a 4-core host they ran as fast at local[2] as
# at local[4], and two task threads with their Python workers leave cores
# for the driver and the JVM's compiler and GC threads.
MAX_CORES = 2


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ host probes


def _children(pid: int) -> list[int]:
    """Every live descendant of pid, read from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            parent[int(d)] = int(_stat_fields(int(d))[1])
        except OSError:
            continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat from field 3 (state) on; the command
    name may contain spaces, so fields resume after the last ')'."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds used by this process, the JVM and the Python workers:
    user + system time of every live process in the tree plus that of
    their reaped children."""
    ticks = 0
    for pid in [os.getpid(), *_children(os.getpid())]:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler(threading.Thread):
    """Peak summed RSS of this process, the JVM and the Python workers."""

    def __init__(self, period: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            total = sum(_rss_mb(p) for p in [me, *_children(me)])
            self.peak_mb = max(self.peak_mb, total)
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=10)
        return self.peak_mb


def canary(spark) -> dict[str, float]:
    """Host level next to the run: 1-minute loadavg, a fixed NumPy matmul
    (single-core CPU) and a trivial Spark action (JVM and scheduler),
    best of 3 each."""
    import numpy as np
    from pyspark.sql import functions as F

    a = np.random.default_rng(0).standard_normal((512, 512))

    def best(fn) -> float:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return min(times)

    return {
        "loadavg_1m": os.getloadavg()[0],
        "numpy_matmul_s": best(lambda: a @ a),
        "spark_action_s": best(
            lambda: spark.range(100_000).agg(F.bit_xor(F.xxhash64("id"))).collect()
        ),
    }


# ---------------------------------------------------------------- session


def start_spark(work: str, cores: int, event_log: str | None):
    from libchunk_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app="perfbench", master=f"local[{cores}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 30
    while _children(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


# -------------------------------------------------------------------- run


def run(workload: str, seed: int, seconds: int, traced: bool) -> tuple[dict, dict]:
    from perfbench.workloads import WORKLOADS, trace_kernels

    box = os.path.join(ROOT, ".perfbench")
    work = os.path.join(box, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import libchunk_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = min(MAX_CORES, os.cpu_count() or 1)

    wl = WORKLOADS[workload](work)
    rss = RssSampler()
    rss.start()
    attempted = failed = 0
    checks: list[dict] = []
    op_s: list[float] = []
    op_cpu_s: list[float] = []
    step_geo: list[float] = []
    steps_all: dict[str, list[float]] = {}
    tracer = None

    # The input preparations run before the JVM starts, so they do not
    # share the cores with its start-up. setup_s leaves out the JVM start,
    # which is not the program's work.
    c0 = tree_cpu_s()
    prep_s = []
    for _ in range(PREPARE_REPEATS):
        t0 = time.perf_counter()
        wl.prepare(seed)
        prep_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    event_log = os.path.join(work, "eventlog") if traced else None
    spark = start_spark(work, cores, event_log)
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        wl.warm(spark)
        warm_s = time.perf_counter() - t0
        setup_s = statistics.median(prep_s) + warm_s
        setup_cpu_s = tree_cpu_s() - c0
        _log(f"{workload} seed={seed} setup {setup_s:.2f}s (session "
             f"{session_s:.2f} prepare {prep_s} warm {warm_s:.2f})")

        host_start, ticks0 = canary(spark), host_ticks()
        if traced:
            tracer = T.Tracer(spark.sparkContext)
            trace_kernels(tracer, wl.payloads, wl.cfg)
        t_begin = time.perf_counter()
        while not op_s or (not traced and time.perf_counter() - t_begin < seconds):
            attempted += 2  # the operation and its output check
            op_done = False
            try:
                t0, c0 = time.perf_counter(), tree_cpu_s()
                out, steps = wl.op(spark, tracer or T.Tracer())
                op_s.append(time.perf_counter() - t0)
                op_cpu_s.append(tree_cpu_s() - c0)
                op_done = True
                if traced:
                    wl.layer_counts(spark, out, tracer)
                checks.append(wl.check(out))
            except Exception:
                traceback.print_exc()
                failed += 1 if op_done else 2  # a failed operation fails its check
                break
            _log(f"op {len(op_s)}: {op_s[-1]:.2f}s check {checks[-1]}")
            if checks[-1]["passed"] != 1.0:
                failed += 1
                break
            for k, v in steps.items():
                steps_all.setdefault(k, []).append(v)
            step_geo.append(M.geomean(list(steps.values())))
        host_end, ticks1 = canary(spark), host_ticks()
    finally:
        stop_spark(spark)
        peak_rss = rss.stop()
        _log("session stopped")

    if failed:
        shutil.rmtree(work, ignore_errors=True)
        return {"workload": workload, "seed": seed, "checks": checks}, M.result_line(
            False, attempted, failed, {}
        )

    spans: list[dict] = []
    layer: dict[str, float] = {}
    if traced:
        spans, layer = trace_report(tracer, event_log, cores)
        with open(os.path.join(box, f"trace-{workload}-seed{seed}.json"), "w") as f:
            json.dump({"workload": workload, "seed": seed, "spans": spans}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    run_s = statistics.median(op_s)
    e2e = {
        "setup_s": (setup_s, "s"),
        # CPU time, not wall time, is the bounded cost of an operation: on
        # the shared host the hypervisor's steal moved an operation's wall
        # time by up to 2x between runs, its CPU time by far less
        "cpu_s": (statistics.median(op_cpu_s), "s"),
        "dup_pair_recall": (min(c["dup_pair_recall"] for c in checks), "ratio"),
    }
    detail = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "cores": cores,
        "inputs": wl.n_inputs,
        "input_mb": sum(len(p) for p in wl.payloads) / 1e6,
        "setup": {
            "session_s": session_s,
            "prepare_s": prep_s,
            "warm_s": warm_s,
            "cpu_s": setup_cpu_s,
        },
        "run_s": run_s,
        "files_per_s": wl.n_inputs / run_s,
        "op_s": M.timing_summary(op_s) | {"samples": op_s},
        "op_cpu_s": op_cpu_s,
        "steps_s": {k: M.timing_summary(v) for k, v in steps_all.items()},
        # a 2x gain on a small step moves it as much as one on a big step;
        # kept out of the bounded metrics: it spread up to 0.22 over seeds
        "step_s_geomean": statistics.median(step_geo),
        "error_rate": failed / attempted,
        "peak_rss_mb": peak_rss,
        "checks": checks,
        "host": {
            "start": host_start,
            "end": host_end,
            # share of all CPUs' time the hypervisor gave to other guests
            "steal_frac": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
        },
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
    }
    metrics = e2e
    if traced:
        detail["per_layer"] = layer
        detail["spans"] = [
            {k: s[k] for k in ("name", "wall_s", "self_s", "counts", "spark")}
            for s in spans
        ]
        metrics = {k: (layer[k], u) for k, u in PER_LAYER.items()}
    return detail, M.result_line(True, attempted, failed, metrics)


def trace_report(tracer, event_log: str, cores: int) -> tuple[list[dict], dict]:
    """Per-span table (wall, self time, layer counts, Spark counters) and the
    per-layer result metrics: Spark totals over the traced operation, the
    in-process kernel rates, the traced operation's wall time and
    trace.kernel_share. The tracing overhead is trace.op_s minus the
    median run_s of untraced runs.

    kernel_share is the in-process time of both content kernels on the
    workload's bytes, spread perfectly over the cores, as a share of the
    traced operation: the most of run_s that a faster kernel could save."""
    jobs, tasks = T.read_event_log(T.find_event_log(event_log))
    per_span = T.attribute(tracer, jobs, tasks)
    spans = tracer.to_json()
    for i, s in enumerate(spans):
        s["spark"] = per_span[i]
    root = next(s for s in spans if s["name"].endswith(".op"))

    def inside(ms: int) -> bool:
        return root["start"] <= ms / 1e3 <= root["end"]

    totals = T.spark_counters(
        [j for j in jobs if inside(j.submit_ms)],
        [t for t in tasks if inside(t.launch_ms)],
    )
    layer = {f"spark.{k}": v for k, v in totals.items()}
    kernel_s = 0.0
    for s in spans:
        if "batches" in s["counts"]:
            s["counts"]["jobs_per_batch"] = s["spark"]["jobs"] / s["counts"]["batches"]
        if s["name"] in ("chunker.rabin", "functions.signatures"):
            layer[f"{s['name']}.mb_per_s"] = s["counts"]["mb_per_s"]
            kernel_s += s["counts"]["s"]
    layer["trace.op_s"] = root["wall_s"]
    layer["trace.kernel_share"] = kernel_s / cores / root["wall_s"]
    return spans, layer


# The per-layer result metrics (BENCHMARK.json `per_layer`) and their units.
PER_LAYER = {
    "chunker.rabin.mb_per_s": "MB/s",
    "functions.signatures.mb_per_s": "MB/s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.task_skew": "ratio",
    "trace.op_s": "s",
    "trace.kernel_share": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    detail, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"detail": detail}, default=float))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
