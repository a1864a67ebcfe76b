#!/usr/bin/env python3
"""Benchmark of the bytesme Spark engine: one command, end-to-end and
per-layer metrics, outputs checked.

    python3 perfbench/run.py --workload <bytesme_etl|catalog_sf001> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed`` under
``.perfbench_work/<workload>/`` (the only place the run writes). The last
line of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Lines before it are the same numbers for
people, plus the run context (host probe, core count, input sizes) and
numbers without a regression bound: ``wall_s`` and ``reference_s`` (the
parts of ``wall_rel``), ``warmup_pass_s``, ``failed_frac``,
``peak_rss_mb``, the highest supported query percentile, and on
``bytesme_etl`` ``etl_rows_per_s`` and ``search_p50_s``.

An untraced run starts one driver process; ``setup_s`` is its time from
spawn until it reports ready. A traced run starts an untraced and a traced
driver on the same inputs, each making one warm-up and one timed pass, and
reports the tracing overhead as the difference of their pass times.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from stats import summarize  # noqa: E402

PACKAGE = "bytesme_etl_batch_pipeline_spark"
CHILD_TIMEOUT_S = 150
DRIVER_MEM = "3g"
# the operation whose latency is a workload's request latency
REQUEST_KIND = {"bytesme_etl": "search", "catalog_sf001": "query"}


def host_probe() -> dict[str, float]:
    """Engine-independent host probe, the same fixed work as ``bench.py``'s:
    a seeded 1024x1024 NumPy matmul five times (CPU) and twenty copies of a
    64 MiB array (memory bandwidth)."""
    import numpy as np

    rng = np.random.default_rng(20260816)
    a = rng.standard_normal((1024, 1024))
    b = rng.standard_normal((1024, 1024))
    t0 = time.perf_counter()
    for _ in range(5):
        a @ b
    matmul = time.perf_counter() - t0
    big = rng.standard_normal(64 * 1024 * 1024 // 8)
    t0 = time.perf_counter()
    for _ in range(20):
        big.copy()
    return {"host_matmul_x5": matmul, "host_memcpy_x20": time.perf_counter() - t0}


def make_inputs(workload: str, data_dir: str, seed: int) -> dict:
    from workloads import CATALOG_SCALE, LANDING_ROWS, LANDING_SITES

    if workload == "bytesme_etl":
        return datagen.write_landing(os.path.join(data_dir, "landing"), LANDING_ROWS, seed,
                                     sites=LANDING_SITES)
    return datagen.write_catalog_tables(data_dir, CATALOG_SCALE, seed)


def _stop_group(proc: subprocess.Popen) -> None:
    """Terminate the driver process and whatever is left of its process
    group (the JVM, Python workers), and wait until none of them remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10.0
        try:
            proc.wait(timeout=10.0)  # a reaped leader no longer counts
        except subprocess.TimeoutExpired:
            continue
        while time.monotonic() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def run_child(args: list[str], env: dict, log_path: str) -> float | None:
    """Run one driver process to completion; return seconds from spawn until
    it printed READY (None if it never did)."""
    t0 = time.perf_counter()
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            stdout=subprocess.PIPE, stderr=log, env=env, cwd=ROOT,
            start_new_session=True, text=True,
        )
    timer = threading.Timer(CHILD_TIMEOUT_S, _stop_group, [proc])
    timer.start()
    ready = None
    try:
        for line in proc.stdout:
            if ready is None and line.strip() == "READY":
                ready = time.perf_counter() - t0
        proc.wait()
    finally:
        timer.cancel()
        proc.stdout.close()
        # the JVM outlives the driver by a moment; wait for the whole group
        _stop_group(proc)
    if proc.returncode != 0:
        raise RuntimeError(f"driver process exited with {proc.returncode}; see {log_path}")
    return ready


def child_env(work: str) -> dict:
    env = dict(os.environ)
    # Python workers are started by the JVM, not by this interpreter: they
    # find the package only through PYTHONPATH, whatever the working dir
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["TMPDIR"] = os.path.join(work, "tmp")
    # keep every JVM (the launcher's too) out of /tmp: its temp files and
    # the hsperfdata directory HotSpot would otherwise create there
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    return env


def request_latencies(kind: str, res: dict) -> list[float]:
    """Seconds of each successful timed operation of one kind (``query``,
    ``search`` or ``etl``)."""
    return [o["s"] for o in res["ops"]
            if o["timed"] and o["kind"] == kind and o["error"] is None]


def end_to_end(workload: str, res: dict, setup_s: float) -> tuple[dict, list[str]]:
    """The registered end-to-end metrics plus extra lines for people."""
    q = summarize(request_latencies(REQUEST_KIND[workload], res))
    metrics = {"setup_s": setup_s, "wall_rel": res["wall_s"] / res["reference_s"]}
    # Latency medians of a few short requests and peak RSS moved by 20-40%
    # between identical runs on a shared 4-core host, more than a regression
    # bound can allow; they are printed here and the traced run reports them
    # as per-layer metrics.
    tail = (f"p{q['tail_p']:g}={q['tail']:.4f} s" if q["tail_p"] is not None
            else "no percentile has 10 samples beyond it")
    lines = [f"wall_s {res['wall_s']:.4f} s (one timed pass, each operation at its median)",
             f"reference_s {res['reference_s']:.4f} s (median of the reference job between passes)",
             f"warmup_pass_s {res['warmup_pass_s']:.4f} s (the first, cold pass; "
             f"{res['warmup_passes']} untimed and {len(res['passes'])} timed passes)",
             f"query_p50_s {q['p50']:.4f} s (n={q['n']}; {tail})",
             f"peak_rss_mb {res['peak_rss_mb']:.1f} MB (driver JVM + Python driver)"]
    if workload == "bytesme_etl":
        lines.append(f"search_p50_s {q['p50']:.4f} s (the requests are searches)")
        etl = request_latencies("etl", res)
        if etl:
            lines.append(f"etl_rows_per_s {res['landing_rows'] / statistics.median(etl):.1f} rows/s "
                         f"({res['landing_rows']} landing rows, {len(etl)} ETL passes)")
    return metrics, lines


def with_units(values: dict[str, float], kind: str) -> dict[str, tuple[float, str]]:
    """Attach each metric's unit from BENCHMARK.json, which must register
    exactly the metrics measured."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    if set(units) != set(values):
        raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} are not "
                           "both measured and registered in BENCHMARK.json")
    return {k: (v, units[k]) for k, v in values.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["bytesme_etl", "catalog_sf001"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated launcher still stops its driver's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py"))):
        print(f"error: {ROOT} holds no {PACKAGE} package (and tests/oracle.py); "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "data"):
        os.makedirs(os.path.join(work, sub))
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.cpu_count(),
        **host_probe(),
    }
    data = os.path.join(work, "data")
    context["inputs"] = make_inputs(args.workload, data, args.seed)
    env = child_env(work)
    log = os.path.join(work, "driver.log")

    def worker_args(tag: str, *extra: str) -> list[str]:
        return ["--workload", args.workload, "--data", data, "--work", work,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--result", os.path.join(work, f"{tag}.json"), *extra]

    if args.trace:
        # one warm-up pass each keeps two driver starts inside the time limit
        # of one run on a busy host
        one = ("--max-passes", "1", "--warmup-passes", "1")
        run_child(worker_args("untraced", "--no-check", "--trace", "0", *one), env, log)
        run_child(worker_args("traced", "--trace", "1", *one), env, log)
        base = json.load(open(os.path.join(work, "untraced.json")))
        res = json.load(open(os.path.join(work, "traced.json")))
        layers = res["layers"]
        layers["trace.overhead_s"] = layers["trace.wall_s"] - base["wall_s"]
        layers["peak_rss_mb"] = res["peak_rss_mb"]
        layers["query_p50_s"] = statistics.median(request_latencies(REQUEST_KIND[args.workload], res))
        metrics = dict(sorted(layers.items()))
        lines = []
    else:
        setup = run_child(worker_args("measured"), env, log)
        res = json.load(open(os.path.join(work, "measured.json")))
        metrics, lines = end_to_end(args.workload, res, setup)

    metrics = with_units(metrics, "per_layer" if args.trace else "end_to_end")
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"])
    for o in res["ops"]:
        if not o["ok"]:
            print(f"FAILED {o['id']}: {o['error'] or o.get('checks') or 'wrong output'}")
    print(f"failed_frac {failed / attempted:.4f} ratio ({failed}/{attempted} operations)")
    print("context " + json.dumps(context, ensure_ascii=False))
    for line in lines:
        print(line)
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump({"context": context, "result": res,
                   "metrics": {k: v for k, (v, _) in metrics.items()}}, f, indent=1)
    shutil.rmtree(data, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
