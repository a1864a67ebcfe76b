#!/usr/bin/env python
"""Per-query profiler: ``python tools/query_profile.py [QUERY ...] [--repeats 3]
[--sf-dir DIR]`` (no names: whole catalog; DIR: ``$SPARK_GRAFT_SF_DIR``, else
``bench.py``'s sf0.1). Each repeat builds the plan and runs ``count()`` under
job groups ``"<query>#<rep>:build"`` / ``":action"``; ``perfbench/tracing.py``
splits them. Prints one JSON line: host probe, per-query min wall,
``total_min``, errors and per-repeat fields (``repeat_fields``)."""

import argparse
import dataclasses
import gc
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from tracing import EventLog, Tracer, install_checkpoint_wrappers, parse_event_log, spark_metrics, union_seconds  # noqa: E402

SPARK_FIELDS = ("exec.s", "exec.jobs", "exec.stages", "exec.tasks", "spark.slowest_stage_s",
                "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
                "python.run_s")


def op_log(log: EventLog, op: str, build: tuple[float, float], end: float) -> EventLog:
    """Jobs of repeat ``op`` (``"<query>#<rep>"``): its tagged ones and, as
    queries run one at a time, untagged ones (streaming micro-batches) started
    in its build or action window."""
    jobs = {}
    for i, j in log.jobs.items():
        if j.op is None and build[0] <= j.start <= end:
            j = dataclasses.replace(j, group=f"{op}:{'build' if j.start <= build[1] else 'action'}")
        if j.op == op:
            jobs[i] = j
    return EventLog(jobs=jobs, stages=log.stages)


def repeat_fields(log: EventLog, op: str, build: tuple[float, float], end: float,
                  ckpt_s: float, ckpt_calls: float) -> dict[str, float]:
    """Fields of ``op``; ``build``/``end`` in epoch s, ``ckpt_*`` build deltas."""
    mine = op_log(log, op, build, end)
    build_jobs = [(j.start, j.end) for j in mine.jobs.values() if j.phase == "build"]
    build_s = build[1] - build[0]
    out = {"wall_s": end - build[0], "queries.build_s": build_s,
           "queries.build_pure_s": build_s - union_seconds(build_jobs, *build),
           "queries.build_jobs": float(len(build_jobs)), "ckpt.s": ckpt_s, "ckpt.calls": ckpt_calls}
    m = spark_metrics(mine, phases=("build", "action"))
    out.update((k, m[k]) for k in SPARK_FIELDS)
    return {k: round(v, 4) for k, v in out.items()}


def main() -> None:
    from __spark_entry__ import SF0_001
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("names", nargs="*", metavar="QUERY")
    p.add_argument("--repeats", type=int, default=3)
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", SF0_001.replace("sf0.001", "sf0.1")))
    args = p.parse_args()

    from bytesme_etl_batch_pipeline_spark.plans import queries as catalog
    from bytesme_etl_batch_pipeline_spark.session import get_spark
    from bytesme_etl_batch_pipeline_spark.sources import tables
    from run import host_probe
    from worker import warm_up

    real_stdout, sys.stdout = sys.stdout, sys.stderr
    event_dir = tempfile.TemporaryDirectory(prefix="query-profile-")
    spark = get_spark("bytesme-profile", extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + event_dir.name,
        "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    warm_up(spark)
    tracer = Tracer()
    install_checkpoint_wrappers(tracer, spark)

    def repeat(name: str, rep: int) -> tuple:
        """One repeat with the engine's memos empty; ``repeat_fields``' arguments."""
        catalog._LSH_EDGES_MEMO.clear()
        tables._clear_scan_memo()
        op, ckpt0 = f"{name}#{rep}", dict(tracer.counts)
        spark.sparkContext.setJobGroup(f"{op}:build", name)
        t0 = time.time()
        df = catalog.SPARK_QUERIES[name](spark, args.sf_dir)
        t1 = time.time()
        ckpt = [tracer.counts[k] - ckpt0.get(k, 0.0) for k in ("ckpt.s", "ckpt.calls")]
        spark.sparkContext.setJobGroup(f"{op}:action", name)
        df.count()
        return (op, (t0, t1), time.time(), *ckpt)

    reps, errors = {}, {}
    for name in args.names or list(catalog.SPARK_QUERIES):
        try:
            reps[name] = [repeat(name, rep) for rep in range(args.repeats)]
            gc.collect()
        except Exception as exc:  # noqa: BLE001 — record it, profile the rest
            errors[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
    app_id = spark.sparkContext.applicationId
    spark.stop()

    log = parse_event_log(os.path.join(event_dir.name, app_id))
    event_dir.cleanup()
    runs = {name: [repeat_fields(log, *r) for r in rs] for name, rs in reps.items()}
    walls = {name: min(r["wall_s"] for r in rs) for name, rs in runs.items()}
    print(json.dumps({"sf_dir": args.sf_dir, "host": {k: round(v, 4) for k, v in host_probe().items()},
                      "queries": walls, "total_min": round(sum(walls.values()), 4),
                      "runs": runs, "errors": errors}), file=real_stdout)


if __name__ == "__main__":
    main()
