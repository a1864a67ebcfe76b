"""One Spark driver process of a benchmark run (started by ``run.py``).

Prints ``READY`` on stdout once the package is imported, ``get_spark`` has
returned and the warm-up has finished, so the parent can time set-up from
process start. Then it makes the workload's untimed warm-up passes and its
timed passes, checks the outputs, stops Spark and writes a JSON result
file.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def warm_up(spark) -> None:
    """One SQL job and one pandas-UDF job, so the first job's set-up and the
    Python worker daemon are paid before the first timed operation."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    spark.sparkContext.setJobGroup("warmup:warmup", "warmup")
    spark.range(1000).selectExpr("sum(id)").collect()
    # explicit return/function types: string hints would need pandas in scope
    double = pandas_udf(lambda v: v * 1.0, "double", PandasUDFType.SCALAR)
    spark.range(32).withColumn("x", F.col("id").cast("double")).select(
        double("x").alias("y")
    ).agg(F.sum("y")).collect()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def layer_metrics(wl, tracer, log, setup: dict, pass_s: float) -> dict[str, float]:
    """Every per-layer metric of one traced pass (0 where a layer is not
    exercised by the workload)."""
    from tracing import op_gaps, spark_metrics, streaming_metrics, union_seconds

    m = dict(setup)
    m.update(spark_metrics(log))
    m.update(streaming_metrics(log))
    cores = os.cpu_count() or 1
    m["spark.core_util"] = m["spark.executor_run_s"] / (pass_s * cores) if pass_s else 0.0

    build_spans = [s for s in tracer.spans if s.name == "build"]
    build_jobs = [j for j in log.jobs.values() if j.phase == "build"]
    m["queries.build_s"] = sum(s.end - s.start for s in build_spans)
    m["queries.build_jobs"] = float(len(build_jobs))
    m["queries.build_pure_s"] = m["queries.build_s"] - sum(
        union_seconds([(j.start, j.end) for j in build_jobs if j.op == s.op], s.start, s.end)
        for s in build_spans
    )

    m["ckpt.calls"] = tracer.counts.get("ckpt.calls", 0.0)
    m["ckpt.s"] = tracer.counts.get("ckpt.s", 0.0)
    m["ckpt.pinned_rdds"] = float(wl.pinned_max)

    gaps = [g for kind in ("query", "etl", "search") for g in op_gaps(log, tracer.spans, kind)]
    m["driver.gap_s"] = sum(g for g, _ in gaps)
    searches = op_gaps(log, tracer.spans, "search")
    m["search.jobs"] = statistics.mean(n for _, n in searches) if searches else 0.0
    m["search.driver_gap_s"] = statistics.mean(g for g, _ in searches) if searches else 0.0

    reports = getattr(wl, "pipeline_reports", [])
    results = [r for rep in reports for r in rep.results]
    pipeline_jobs = [j for j in log.jobs.values() if j.phase == "pipeline"]
    m["pipeline.input_s"] = sum(r.seconds for r in results)
    m["pipeline.jobs_per_input"] = len(pipeline_jobs) / len(results) if results else 0.0
    m["pipeline.rows_out"] = float(sum(r.rows_out or 0 for r in results))
    m["sources.write_s"] = tracer.total("sources.write")
    m["trace.wall_s"] = pass_s
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--no-check", action="store_true")
    ap.add_argument("--max-passes", type=int)
    ap.add_argument("--warmup-passes", type=int)
    ap.add_argument("--result")
    args = ap.parse_args(argv)

    t = time.perf_counter()
    import bytesme_etl_batch_pipeline_spark.plans.queries  # noqa: F401  (catalog import)
    from bytesme_etl_batch_pipeline_spark.session import get_spark

    import_s = time.perf_counter() - t
    conf = {
        "spark.local.dir": os.path.join(args.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = os.path.join(args.work, "eventlog")
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    from tracing import Tracer, install_checkpoint_wrappers, parse_event_log
    from workloads import WORKLOADS

    t = time.perf_counter()
    warm_up(spark)
    warmup_s = time.perf_counter() - t
    print("READY", flush=True)

    wl = WORKLOADS[args.workload](spark, args.data, args.seed)
    if args.warmup_passes is not None:
        wl.warmup_passes = args.warmup_passes
    wl.warm_up()

    tracer = None
    if args.trace:
        wl.tracer = tracer = Tracer()
        install_checkpoint_wrappers(tracer, spark)
    wl.run(args.seconds, max_passes=args.max_passes)
    if not args.no_check:
        wl.check()
    rss = peak_rss_mb(spark)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    result = {
        "warmup_pass_s": wl.passes[0].seconds,
        "warmup_passes": wl.warmup_passes,
        "passes": [p.seconds for p in wl.timed_passes()],
        "wall_s": wl.typical_pass_s(),
        "reference_s": statistics.median(wl.reference_s),
        "ops": [
            {"id": o.op_id, "kind": o.kind, "name": o.name, "s": o.seconds, "timed": p.timed,
             "ok": o.ok, "error": o.error, "checks": o.extra.get("checks")}
            for p in wl.passes for o in p.ops
        ],
        "peak_rss_mb": rss,
        "landing_rows": getattr(wl, "landing_rows", None),
    }
    if args.trace:
        log = parse_event_log(os.path.join(event_dir, app_id))
        setup = {
            "catalog.import_s": import_s,
            "session.get_spark_s": get_spark_s,
            "session.warmup_s": warmup_s,
        }
        result["layers"] = layer_metrics(wl, tracer, log, setup, wl.timed_passes()[0].seconds)
        tracer.dump(os.path.join(args.work, "spans.jsonl"))
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
