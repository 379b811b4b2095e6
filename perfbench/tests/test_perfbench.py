"""Tests for the benchmark's own code: event-log parsing and attribution,
span self time, the percentile helper, the metric-name rule, the expected
outputs of the streaming workload and the result line of a failed run.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench import metrics as M  # noqa: E402
from perfbench import run as R  # noqa: E402
from perfbench import trace as T  # noqa: E402
from perfbench import workloads as W  # noqa: E402


@pytest.fixture(scope="module")
def event_log_run(tmp_path_factory):
    """A tiny job with a known shape, run inside one span: 4 map tasks that
    write shuffle output and 3 reduce tasks that read it, then a second job
    outside every span."""
    from pyspark.sql import SparkSession

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    os.environ["PYTHONPATH"] = ROOT
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    tracer = T.Tracer(spark.sparkContext)
    try:
        with tracer.span("outer"):
            with tracer.span("shuffle"):
                spark.sparkContext.parallelize(range(1000), 4).map(
                    lambda x: (x % 10, x)
                ).reduceByKey(lambda a, b: a + b, 3).collect()
        spark.sparkContext.parallelize(range(10), 2).count()
    finally:
        spark.stop()
    jobs, tasks = T.read_event_log(T.find_event_log(log_dir))
    return tracer, jobs, tasks


def test_event_log_counts_tasks_and_shuffle(event_log_run):
    _, jobs, tasks = event_log_run
    assert len(jobs) == 2
    c = T.spark_counters(jobs[:1], [t for t in tasks if t.stage_id < 2])
    assert c["tasks"] == 7
    assert c["shuffle_write_mb"] > 0
    # every reduce task reads locally what the map tasks wrote
    assert c["shuffle_read_mb"] == pytest.approx(c["shuffle_write_mb"])
    assert c["executor_cpu_s"] > 0
    assert c["task_skew"] >= 1.0


def test_attribution_uses_innermost_span(event_log_run):
    tracer, jobs, tasks = event_log_run
    per_span = T.attribute(tracer, jobs, tasks)
    names = [s.name for s in tracer.spans]
    inner = per_span[names.index("shuffle")]
    assert inner["jobs"] == 1 and inner["tasks"] == 7
    assert per_span[names.index("outer")]["jobs"] == 0
    # the job after the spans belongs to no span
    assert sum(c["jobs"] for c in per_span.values()) == 1
    # the span set the job group while it was open
    assert jobs[0].group == tracer.spans[names.index("shuffle")].group
    assert jobs[1].group == ""


def test_task_skew_is_taken_in_the_heaviest_stage():
    def task(stage, ms):
        return T.TaskRecord(stage, 0, ms, ms, 0, 0, 0, 0)

    tasks = [task(0, 10), task(0, 10), task(0, 40), task(1, 1), task(1, 30)]
    c = T.spark_counters([], tasks)
    assert c["task_skew"] == pytest.approx(4.0)
    assert c["tasks"] == 5 and c["executor_run_s"] == pytest.approx(0.091)
    assert T.spark_counters([], [])["task_skew"] == 1.0


def test_self_time_subtracts_merged_children():
    tr = T.Tracer()
    tr.spans = [
        T.Span("root", 0.0, 10.0),
        T.Span("a", 1.0, 4.0, parent=0),
        T.Span("b", 3.0, 5.0, parent=0),  # overlaps a: covered 1..5
        T.Span("c", 7.0, 8.0, parent=0),
        T.Span("a.x", 1.5, 2.0, parent=1),
    ]
    assert tr.self_s(0) == pytest.approx(10 - 4 - 1)
    assert tr.self_s(1) == pytest.approx(3 - 0.5)
    assert tr.innermost(1.7) == 4
    assert tr.innermost(6.0) == 0
    assert tr.innermost(11.0) is None


def test_span_can_be_back_dated_and_found_by_name():
    tr = T.Tracer()
    with tr.span("op"):
        with tr.span("stage", start=tr.spans[0].start):
            pass
        with tr.span("stage"):
            pass
    assert tr.spans[1].start == tr.spans[0].start
    assert tr.find("stage") is tr.spans[2]
    # a tie in start time goes to the span opened later: the inner one
    assert tr.innermost(tr.spans[0].start) == 1


def test_percentile_nearest_rank():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert M.percentile(vals, 50) == 3.0
    assert M.percentile(vals, 90) == 5.0
    assert M.percentile(vals, 1) == 1.0
    with pytest.raises(ValueError):
        M.percentile([], 50)


@pytest.mark.parametrize(
    "n,keys",
    [
        (1, {"n", "p50"}),
        (99, {"n", "p50"}),  # p90 would leave only 9 samples beyond it
        (100, {"n", "p50", "p90"}),
        (999, {"n", "p50", "p90"}),
        (1000, {"n", "p50", "p90", "p99"}),
    ],
)
def test_timing_summary_reports_percentiles_with_ten_samples_beyond(n, keys):
    s = M.timing_summary([float(i) for i in range(n)])
    assert set(s) == keys
    assert s["n"] == n


def test_timing_summary_of_no_samples():
    assert M.timing_summary([]) == {"n": 0}


@pytest.mark.parametrize(
    "name", ["run_s", "setup_s", "spark.shuffle_read_mb", "chunker.rabin.mb_per_s", "0a-b"]
)
def test_metric_name_accepted(name):
    assert M.check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "ü"])
def test_metric_name_rejected(name):
    with pytest.raises(ValueError):
        M.check_metric_name(name)


def test_result_line_shape():
    r = M.result_line(True, 4, 0, {"run_s": (1.25, "s")})
    assert r == {
        "correct": True,
        "attempted": 4,
        "failed": 0,
        "metrics": {"run_s": {"value": 1.25, "unit": "s"}},
    }


def test_inputs_are_a_function_of_the_seed():
    assert inputs.documents_table(3, 200).equals(inputs.documents_table(3, 200))
    assert not inputs.documents_table(3, 200).equals(inputs.documents_table(4, 200))
    assert inputs.corpus_rows(3, 20, 10) == inputs.corpus_rows(3, 20, 10)
    assert inputs.corpus_rows(3, 20, 10) != inputs.corpus_rows(4, 20, 10)


def test_planted_doc_pairs():
    texts = ["a b c", "x y", "a b c dup", "x y dup", "q"]
    assert inputs.planted_doc_pairs(texts) == [(0, 2), (1, 3)]
    texts = inputs.documents_table(5, 400).column("text").to_pylist()
    pairs = inputs.planted_doc_pairs(texts)
    assert pairs and all(texts[b] + " dup" == texts[a] or texts[a] + " dup" == texts[b]
                         for a, b in pairs)


def test_band_components_join_files_that_share_a_band():
    from libchunk_spark.config import CORPUS_PIPELINE_CONFIG as CFG

    rows = inputs.planted_rows(7, 40)
    payloads = [r[5].encode() for r in rows]
    # file 40 is an exact copy of file 3, so it shares every band with it
    comp = W.band_components(list(range(41)), payloads + [payloads[3]], CFG)
    assert comp[40] == comp[3] == min(i for i in comp if comp[i] == comp[3])
    assert all(comp[i] <= i for i in comp)


def test_chunk_keys_are_the_sha256_of_each_chunk():
    import hashlib

    from libchunk_spark.config import CORPUS_PIPELINE_CONFIG as CFG

    from libchunk_spark.chunker.rabin import chunk_bytes

    data = [r[5].encode() for r in inputs.planted_rows(2, 6)]
    want = {
        hashlib.sha256(d[c.start : c.start + c.length]).hexdigest()
        for d in data
        for c in chunk_bytes(d, CFG.chunk)
    }
    assert W.chunk_keys(data, CFG.chunk) == want
    assert W.chunk_keys(data + data, CFG.chunk) == want


class _FailingWorkload:
    """Prepares, then fails its operation's output check (fail_check) or
    the operation itself."""

    name = "failing"
    cfg = None
    payloads = [b"x"]
    n_inputs = 1

    def __init__(self, work, fail_check=True):
        self.fail_check = fail_check

    def prepare(self, seed):
        pass

    def warm(self, spark):
        pass

    def op(self, spark, tracer):
        if not self.fail_check:
            raise AssertionError("round trip failed")
        return {}, {"step": 0.5}

    def check(self, out):
        return {"dup_pair_recall": 0.5, "passed": 0.0}


@pytest.mark.parametrize("fail_check,failed", [(True, 1), (False, 2)])
def test_a_failed_run_prints_correct_false(monkeypatch, tmp_path, fail_check, failed):
    class Session:
        sparkContext = None

    for var in ("PYTHONPATH", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS", "TMPDIR"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    monkeypatch.setattr(R, "ROOT", str(tmp_path))
    monkeypatch.setattr(R, "start_spark", lambda *a: Session())
    monkeypatch.setattr(R, "stop_spark", lambda spark: None)
    monkeypatch.setattr(R, "canary", lambda spark: {})
    monkeypatch.setitem(
        W.WORKLOADS, "failing", lambda work: _FailingWorkload(work, fail_check)
    )
    _, result = R.run("failing", seed=1, seconds=1, traced=False)
    assert result == {"correct": False, "attempted": 2, "failed": failed, "metrics": {}}
