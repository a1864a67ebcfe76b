"""Tracing for the benchmark's traced run: spans, checkpoint wrappers and the
Spark event-log parser that turns one run into per-layer metrics.

Everything here observes the engine from outside. Spans are recorded around
the benchmark's own calls into each layer; the checkpoint wrappers replace
``DataFrame.localCheckpoint`` / ``checkpoint`` / ``persist`` and
``ckpt.tracked_local_checkpoint`` for the life of the traced process only;
Spark-side numbers come from the event log the session writes when
``spark.eventLog.enabled`` is set. Jobs are attributed to an operation and a
phase through their job group, ``"<op_id>:<phase>"``.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# phases whose jobs belong to the timed pass (the correctness check is not)
TIMED_PHASES = ("build", "action", "pipeline", "split", "write", "embed", "search")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock the event log uses
    end: float
    parent: int | None
    op: str | None

    def to_json(self) -> dict:
        return self.__dict__


class Tracer:
    """In-memory span and counter store; ``dump`` writes it out once."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """A span under the innermost open one; it inherits that span's
        operation id unless given its own."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        sp = Span(name, time.time(), 0.0, parent, op)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.to_json()) + "\n")
            f.write(json.dumps({"counts": dict(self.counts)}) + "\n")


def install_checkpoint_wrappers(tracer: Tracer, spark) -> None:
    """Count and time every checkpoint/persist call the engine makes.

    ``ckpt.calls`` / ``ckpt.s`` count the DataFrame-level calls only; the
    ``tracked_local_checkpoint`` helper gets a parent span, so its inner
    ``localCheckpoint`` is not counted twice."""
    from bytesme_etl_batch_pipeline_spark import ckpt

    # the session's concrete DataFrame class (pyspark.sql.DataFrame is only
    # the interface in PySpark 4; the classic implementation overrides it)
    DataFrame = type(spark.range(0))

    def wrap(fn, name):
        def wrapped(*args, **kwargs):
            tracer.counts["ckpt.calls"] += 1
            t0 = time.perf_counter()
            with tracer.span(name):
                try:
                    return fn(*args, **kwargs)
                finally:
                    tracer.counts["ckpt.s"] += time.perf_counter() - t0
        wrapped.__wrapped__ = fn
        return wrapped

    for meth in ("localCheckpoint", "checkpoint", "persist"):
        setattr(DataFrame, meth, wrap(getattr(DataFrame, meth), f"df.{meth}"))

    inner = ckpt.tracked_local_checkpoint

    def tracked(df):
        with tracer.span("ckpt.tracked_local_checkpoint"):
            return inner(df)

    ckpt.tracked_local_checkpoint = tracked


# --- event log ----------------------------------------------------------------

PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
STAGE_ACCS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
}
PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)

    @property
    def op(self) -> str | None:
        return self.group.rsplit(":", 1)[0] if self.group and ":" in self.group else None

    @property
    def phase(self) -> str | None:
        return self.group.rsplit(":", 1)[1] if self.group and ":" in self.group else None


@dataclass
class Stage:
    stage_id: int
    submit: float
    complete: float
    tasks: int = 0
    failed_tasks: int = 0
    acc: dict[str, float] = field(default_factory=lambda: defaultdict(float))


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)


def parse_event_log(path: str) -> EventLog:
    """Read a (non-compressed) Spark JSON event log."""
    log = EventLog()
    task_counts: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                log.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], group, ev["Submission Time"] / 1000.0,
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = Stage(
                    info["Stage ID"],
                    info.get("Submission Time", 0) / 1000.0,
                    info.get("Completion Time", 0) / 1000.0,
                )
                for a in info.get("Accumulables", []):
                    name, value = a.get("Name"), a.get("Value")
                    if name is None or value is None:
                        continue
                    key = STAGE_ACCS.get(name) or PY_METRICS.get(name)
                    if key is not None:
                        st.acc[key] += float(value)
                log.stages[st.stage_id] = st
            elif kind == "SparkListenerTaskEnd":
                c = task_counts[ev["Stage ID"]]
                c[0] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    c[1] += 1
            elif kind == PROGRESS_EVENT:
                log.progress.append(ev["progress"])
    for sid, (n, bad) in task_counts.items():
        if sid in log.stages:
            log.stages[sid].tasks = n
            log.stages[sid].failed_tasks = bad
    return log


def union_seconds(intervals: list[tuple[float, float]], lo: float | None = None,
                  hi: float | None = None) -> float:
    """Length of the union of ``intervals``, optionally clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def spark_metrics(log: EventLog, phases=TIMED_PHASES) -> dict[str, float]:
    """Per-layer Spark metrics over the jobs of the given phases."""
    jobs = [j for j in log.jobs.values() if j.phase in phases]
    stage_ids = sorted({s for j in jobs for s in j.stage_ids if s in log.stages})
    stages = [log.stages[s] for s in stage_ids]
    acc: dict[str, float] = defaultdict(float)
    for st in stages:
        for k, v in st.acc.items():
            acc[k] += v
    out = {
        "exec.s": union_seconds([(j.start, j.end) for j in jobs]),
        "exec.jobs": float(len(jobs)),
        "exec.stages": float(len(stages)),
        "exec.tasks": float(sum(st.tasks for st in stages)),
        "spark.slowest_stage_s": max((st.complete - st.submit for st in stages), default=0.0),
        "spark.shuffle_read_bytes": acc["shuffle_read"],
        "spark.shuffle_write_bytes": acc["shuffle_write"],
        "spark.spill_bytes": acc["spill"],
        "spark.executor_run_s": acc["run_ms"] / 1e3,
        "spark.executor_cpu_s": acc["cpu_ns"] / 1e9,
        "spark.gc_s": acc["gc_ms"] / 1e3,
        "spark.failed_tasks": float(sum(st.failed_tasks for st in stages)),
        "sources.scan_bytes": acc["input_bytes"],
        "sources.bytes_written": acc["output_bytes"],
        # SQL "timing" metrics of the Python exec nodes are milliseconds
        "python.run_s": acc["python.run_s"] / 1e3,
        "python.start_s": acc["python.start_s"] / 1e3,
        "python.bytes_sent": acc["python.bytes_sent"],
        "python.bytes_returned": acc["python.bytes_returned"],
    }
    return out


def op_gaps(log: EventLog, spans: list[Span], span_name: str) -> list[tuple[float, int]]:
    """For each span named ``span_name``: (seconds of it covered by no job of
    its operation, number of jobs of its operation)."""
    by_op: dict[str, list[Job]] = defaultdict(list)
    for j in log.jobs.values():
        if j.op is not None and j.phase in TIMED_PHASES:
            by_op[j.op].append(j)
    out = []
    for s in spans:
        if s.name != span_name:
            continue
        jobs = by_op.get(s.op, [])
        covered = union_seconds([(j.start, j.end) for j in jobs], s.start, s.end)
        out.append((max(0.0, (s.end - s.start) - covered), len(jobs)))
    return out


def streaming_metrics(log: EventLog) -> dict[str, float]:
    return {
        "streaming.batches": float(len(log.progress)),
        "streaming.batch_s": sum(
            p.get("durationMs", {}).get("triggerExecution", 0) for p in log.progress
        ) / 1e3,
        # the event log carries input rows per source, not per query
        "streaming.input_rows": float(sum(
            s.get("numInputRows", 0) for p in log.progress for s in p.get("sources", [])
        )),
    }
