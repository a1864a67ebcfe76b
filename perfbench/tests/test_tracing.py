import os

import pytest

from tracing import Span, Tracer, op_gaps, parse_event_log, spark_metrics, streaming_metrics, union_seconds

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return parse_event_log(FIXTURE)


def test_jobs_are_attributed_by_job_group(log):
    assert {j.job_id: (j.op, j.phase) for j in log.jobs.values()} == {
        0: ("warmup", "warmup"),
        1: ("p0.q1", "build"),
        2: ("p0.q1", "action"),
        3: ("check", "check"),
    }
    m = spark_metrics(log)  # timed phases only: warm-up and check excluded
    assert m["exec.jobs"] == 2
    assert m["exec.stages"] == 3
    assert m["exec.tasks"] == 4
    assert m["exec.s"] == pytest.approx(0.5 + 1.0)
    assert m["spark.slowest_stage_s"] == pytest.approx(0.8)
    assert m["spark.failed_tasks"] == 1
    build = spark_metrics(log, phases=("build",))
    assert build["exec.jobs"] == 1 and build["spark.executor_run_s"] == pytest.approx(0.6)


def test_shuffle_spill_and_executor_sums(log):
    m = spark_metrics(log)
    assert m["spark.shuffle_write_bytes"] == 1000  # check job's 99999 excluded
    assert m["spark.shuffle_read_bytes"] == 300 + 700
    assert m["spark.spill_bytes"] == 64 + 32
    assert m["spark.executor_run_s"] == pytest.approx(0.6)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.5)
    assert m["spark.gc_s"] == pytest.approx(0.05)
    assert m["sources.scan_bytes"] == 4096


def test_python_metric_sums(log):
    m = spark_metrics(log)
    assert m["python.run_s"] == pytest.approx(1.5 + 0.5)
    assert m["python.start_s"] == pytest.approx(0.02)
    assert m["python.bytes_sent"] == 2048
    assert m["python.bytes_returned"] == 512


def test_streaming_progress(log):
    assert streaming_metrics(log) == {
        "streaming.batches": 2.0, "streaming.batch_s": 0.4, "streaming.input_rows": 15.0,
    }


def test_driver_gap_is_span_time_covered_by_no_job(log):
    # the op span runs 1001.5 .. 1004.5; its jobs cover 1002.0-1002.5 and 1003.0-1004.0
    spans = [Span("query", 1001.5, 1004.5, None, "p0.q1")]
    [(gap, jobs)] = op_gaps(log, spans, "query")
    assert jobs == 2
    assert gap == pytest.approx(3.0 - 1.5)


def test_union_seconds_merges_and_clips():
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_seconds([(0, 2), (1, 3), (5, 6)], lo=1, hi=5.5) == 2.5
    assert union_seconds([]) == 0


def test_nested_spans_inherit_the_operation():
    t = Tracer()
    with t.span("query", "p0.q1"):
        with t.span("build"):
            with t.span("df.localCheckpoint"):
                pass
    with t.span("idle"):
        pass
    assert [(s.name, s.parent, s.op) for s in t.spans] == [
        ("query", None, "p0.q1"),
        ("build", 0, "p0.q1"),
        ("df.localCheckpoint", 1, "p0.q1"),
        ("idle", None, None),
    ]
    assert all(s.end >= s.start for s in t.spans)
