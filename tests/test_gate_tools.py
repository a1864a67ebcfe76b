"""Tests for the sweep harness utilities in tools/ (no Spark session).

ADVICE r7 (medium): ``merge_gate_logs.parse_log`` only matches
single-physical-line rows, so a RED status containing a newline (Py4J
exception text, pre-r8 driver_gate) silently vanished from the merged
summary — and ``checked`` was never validated, so a sweep could report
0 red while a failed query went uncounted. The merger now validates the
merged keys against an expected-name list (default: the full catalog)
and exits 2 on any missing query.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _run_merge(tmp_path: Path, log_text: str, expect: list[str]) -> tuple[int, dict]:
    log = tmp_path / "seg.log"
    log.write_text(log_text)
    out = tmp_path / "merged.json"
    proc = subprocess.run(
        [
            sys.executable,
            str(TOOLS / "merge_gate_logs.py"),
            str(out),
            str(log),
            "--expect",
            *expect,
        ],
        capture_output=True,
        text=True,
    )
    return proc.returncode, json.loads(out.read_text())


def test_merge_fails_on_missing_query(tmp_path: Path) -> None:
    # q2's RED status embeds a newline — the classic vanishing-row shape:
    # the first fragment has no timing suffix, the tail fragment has no
    # query name, so neither parses and q2 drops out of the merge.
    log_text = (
        "q1                                            green  (1.23s)\n"
        "q2                                            RED comparator crashed: "
        "Py4JJavaError: An error occurred\n"
        "\tat org.apache.spark.Something  (4.56s)\n"
    )
    rc, summary = _run_merge(tmp_path, log_text, ["q1", "q2"])
    assert rc == 2
    assert summary["missing"] == ["q2"]
    assert summary["green"] == 1


def test_merge_green_when_all_expected_present(tmp_path: Path) -> None:
    log_text = (
        "q1                                            green  (1.23s)\n"
        "q2                                            RED bigout fingerprint "
        '{"rows_match": false}  (4.56s)\n'
    )
    rc, summary = _run_merge(tmp_path, log_text, ["q1", "q2"])
    assert rc == 1  # red present, but nothing missing
    assert summary["missing"] == []
    assert summary["red"] == ["q2"]


def test_later_segment_wins(tmp_path: Path) -> None:
    log1 = tmp_path / "a.log"
    log1.write_text("q1                  RED comparator crashed: X  (9.99s)\n")
    log2 = tmp_path / "b.log"
    log2.write_text("q1                  green  (1.00s)\n")
    out = tmp_path / "merged.json"
    proc = subprocess.run(
        [
            sys.executable,
            str(TOOLS / "merge_gate_logs.py"),
            str(out),
            str(log1),
            str(log2),
            "--expect",
            "q1",
        ],
        capture_output=True,
        text=True,
    )
    summary = json.loads(out.read_text())
    assert proc.returncode == 0
    assert summary["red"] == [] and summary["green"] == 1


def test_merge_rejects_explicit_empty_expect(tmp_path: Path) -> None:
    """ADVICE r8: an explicitly EMPTY --expect used to fall through to
    'use the full catalog' — the opposite of a partial-segment caller's
    intent. nargs='+' makes it an argparse error now."""
    log = tmp_path / "seg.log"
    log.write_text("q1                  green  (1.00s)\n")
    proc = subprocess.run(
        [
            sys.executable,
            str(TOOLS / "merge_gate_logs.py"),
            str(tmp_path / "merged.json"),
            str(log),
            "--expect",
        ],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 2  # argparse usage error
    assert "expected at least one argument" in proc.stderr


# ---------------------------------------------------------------------------
# bench_floor_compare: zero-floor handling, empty-shared guard, canary
# normalization (ADVICE r8 + VERDICT r8 item 3)
# ---------------------------------------------------------------------------


def _write_detail(path: Path, queries: dict, canary: dict | None = None) -> None:
    blob = {"queries": queries}
    if canary is not None:
        blob["canary"] = canary
    path.write_text(json.dumps(blob))


def _run_floor_compare(*argv: str) -> tuple[int, str, str]:
    proc = subprocess.run(
        [sys.executable, str(TOOLS / "bench_floor_compare.py"), *argv],
        capture_output=True,
        text=True,
    )
    return proc.returncode, proc.stdout, proc.stderr


def test_floor_compare_zero_floor_not_silently_exempt(tmp_path: Path) -> None:
    """A query with a 0.0 floor used to get ratio 1.0 — invisible to the
    --flag regression check no matter how slow it got. It must now be
    listed under zero_floor and flagged by ABSOLUTE time."""
    f = tmp_path / "floor.json"
    c = tmp_path / "pass.json"
    _write_detail(f, {"q_ok": 1.0, "q_zero": 0.0})
    _write_detail(c, {"q_ok": 1.0, "q_zero": 5.0})
    rc, out, _ = _run_floor_compare(str(c), "--floors", str(f))
    assert rc == 0
    got = json.loads(out)
    assert got["zero_floor"] == ["q_zero"]
    assert "q_zero" in got["zero_floor_flagged_abs"]
    assert "q_zero" not in got["flagged_over_threshold"]


def test_floor_compare_output_names_its_input_files(tmp_path: Path) -> None:
    """VERDICT r9 item 2: the r9-vs-r8 record used r8's best single pass
    as the floor while reading like a min-of-3 comparison. The output
    JSON must name exactly which files formed each side so the
    convention is self-documenting."""
    f = tmp_path / "floor.json"
    c = tmp_path / "pass.json"
    _write_detail(f, {"q": 1.0})
    _write_detail(c, {"q": 1.1})
    rc, out, _ = _run_floor_compare(str(c), "--floors", str(f))
    assert rc == 0
    got = json.loads(out)
    assert got["pass_files"] == [str(c)]
    assert got["floor_files"] == [str(f)]


def test_floor_compare_empty_shared_is_an_error(tmp_path: Path) -> None:
    f = tmp_path / "floor.json"
    c = tmp_path / "pass.json"
    _write_detail(f, {"old_q": 1.0})
    _write_detail(c, {"new_q": 1.0})
    rc, _, err = _run_floor_compare(str(c), "--floors", str(f))
    assert rc == 2
    assert "no shared queries" in err


def test_floor_compare_canary_normalizes_uniform_host_shift(tmp_path: Path) -> None:
    """VERDICT r8 item 3: identical engine code on a 2x-slower host must
    read as host_factor 2.0 and normalized ratios ~1.0 — no flags."""
    f = tmp_path / "floor.json"
    c = tmp_path / "pass.json"
    canary_fast = {"pre": {"a_x10": 1.0, "b_x10": 2.0},
                   "post": {"a_x10": 1.0, "b_x10": 2.0}}
    canary_slow = {"pre": {"a_x10": 2.0, "b_x10": 4.0},
                   "post": {"a_x10": 2.0, "b_x10": 4.0}}
    _write_detail(f, {"q1": 1.0, "q2": 3.0}, canary_fast)
    _write_detail(c, {"q1": 2.0, "q2": 6.0}, canary_slow)
    rc, out, _ = _run_floor_compare(str(c), "--floors", str(f))
    assert rc == 0
    got = json.loads(out)
    assert got["host_factor"] == 2.0
    assert got["total_ratio"] == 2.0          # raw still reported
    assert got["normalized"]["total_ratio"] == 1.0
    assert got["normalized"]["flagged_over_threshold"] == {}
    # pre-canary floors (r6-r8 files) must degrade gracefully: raw only
    f2 = tmp_path / "floor_nocanary.json"
    _write_detail(f2, {"q1": 1.0, "q2": 3.0})
    rc, out, _ = _run_floor_compare(str(c), "--floors", str(f2))
    assert rc == 0
    got = json.loads(out)
    assert got["host_factor"] is None and "normalized" not in got


def test_driver_gate_transient_classification() -> None:
    """ADVICE r8: classify oracle-open failures by DuckDB exception TYPE
    first — a permanent config error mentioning 'memory' must not burn
    the 2x30s retry, an OutOfMemoryException must retry regardless of
    phrasing."""
    import sys as _sys
    from pathlib import Path as _P

    _sys.path.insert(0, str(TOOLS))
    try:
        import duckdb
        from driver_gate import _is_transient_duck_error
    finally:
        _sys.path.remove(str(TOOLS))

    assert _is_transient_duck_error(duckdb.OutOfMemoryException("weird phrasing"))
    # permanent typed errors, even when the text mentions memory
    assert not _is_transient_duck_error(
        duckdb.BinderException("invalid memory_limit setting")
    )
    assert not _is_transient_duck_error(duckdb.CatalogException("no such table"))
    # untyped OS-level pressure still retries via the substring fallback
    assert _is_transient_duck_error(OSError("resource temporarily unavailable"))
    assert not _is_transient_duck_error(ValueError("bad --sf-dir"))


def test_driver_gate_ioexception_requires_alloc_shape() -> None:
    """ADVICE r9 (low): duckdb.IOException also covers PERMANENT failures
    (missing/corrupt parquet, bad path). Only an allocation/spill-shaped
    IOException may retry; a bare file error fails fast."""
    import sys as _sys

    _sys.path.insert(0, str(TOOLS))
    try:
        import duckdb
        from driver_gate import _is_transient_duck_error
    finally:
        _sys.path.remove(str(TOOLS))

    assert _is_transient_duck_error(
        duckdb.IOException("could not allocate spill file block")
    )
    assert _is_transient_duck_error(duckdb.IOException("out of memory"))
    assert not _is_transient_duck_error(
        duckdb.IOException('No files found that match the pattern "/bad/*.parquet"')
    )
    assert not _is_transient_duck_error(
        duckdb.IOException("corrupt parquet footer")
    )


def test_floor_compare_per_probe_host_factor_and_host_basis(tmp_path: Path) -> None:
    """ADVICE r9: (a) host_factor is the median of PER-PROBE ratios over
    matching keys, not a pooled-sample median (mixed-magnitude pooling
    biases when the probe set shifts); (b) engine-independent host_*
    probes take precedence, so an engine-wide regression inflating the
    engine probes cannot be divided out; (c) non-uniform probe ratios are
    surfaced as canary_disagreement."""
    f = tmp_path / "floor.json"
    c = tmp_path / "pass.json"
    # engine probes claim the host got 3x slower (an engine regression in
    # disguise); the engine-independent host probes say the host is FLAT.
    canary_floor = {
        "pre": {"a_x10": 1.0, "host_matmul_x5": 1.0},
        "post": {"a_x10": 1.0, "host_matmul_x5": 1.0},
    }
    canary_cand = {
        "pre": {"a_x10": 3.0, "host_matmul_x5": 1.0},
        "post": {"a_x10": 3.0, "host_matmul_x5": 1.0},
    }
    _write_detail(f, {"q1": 1.0}, canary_floor)
    _write_detail(c, {"q1": 3.0}, canary_cand)
    rc, out, _ = _run_floor_compare(str(c), "--floors", str(f))
    assert rc == 0
    got = json.loads(out)
    # host basis wins: factor 1.0, so the 3x raw regression is NOT normalized away
    assert got["host_factor_basis"] == "host"
    assert got["host_factor"] == 1.0
    assert got["normalized"]["total_ratio"] == 3.0
    assert "q1" in got["normalized"]["flagged_over_threshold"]

    # engine-basis fallback (old floors without host_* keys): per-probe
    # median, not pooled — two probes of different magnitude, both 2x.
    f2 = tmp_path / "floor2.json"
    c2 = tmp_path / "pass2.json"
    _write_detail(
        f2,
        {"q1": 1.0},
        {"pre": {"a_x10": 0.1, "b_x10": 10.0}, "post": {"a_x10": 0.1, "b_x10": 10.0}},
    )
    _write_detail(
        c2,
        {"q1": 2.0},
        {"pre": {"a_x10": 0.2, "b_x10": 20.0}, "post": {"a_x10": 0.2, "b_x10": 20.0}},
    )
    rc, out, _ = _run_floor_compare(str(c2), "--floors", str(f2))
    got = json.loads(out)
    assert got["host_factor_basis"] == "engine"
    # pooled median would give 20/10 = 2.0 by luck here, but with a probe-set
    # magnitude shift it biases; per-probe gives exactly 2.0 by construction
    assert got["host_factor"] == 2.0
    assert got["canary_disagreement"] is None
    assert got["host_factor_suspicious"] is not None  # > 1.1 → surfaced

    # disagreeing probes (one 1x, one 3x) → canary_disagreement set
    c3 = tmp_path / "pass3.json"
    _write_detail(
        c3,
        {"q1": 2.0},
        {"pre": {"a_x10": 0.1, "b_x10": 30.0}, "post": {"a_x10": 0.1, "b_x10": 30.0}},
    )
    rc, out, _ = _run_floor_compare(str(c3), "--floors", str(f2))
    got = json.loads(out)
    assert got["canary_disagreement"] is not None
    assert got["canary_disagreement"]["spread"] == 3.0


def _profile_tool():
    import importlib.util

    spec = importlib.util.spec_from_file_location("query_profile", TOOLS / "query_profile.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# the benchmark's event-log fixture: op p0.q1 has build job 1 (1002.0-1002.5)
# and action job 2 (1003.0-1004.0); job 0 is "warmup:warmup", job 3 "check:check"
EVENTLOG = TOOLS.parent / "perfbench" / "tests" / "fixtures" / "eventlog.jsonl"


def test_profile_splits_one_query_by_job_group() -> None:
    prof = _profile_tool()
    log = prof.parse_event_log(str(EVENTLOG))
    build, end = (1001.5, 1002.8), 1004.5
    fields = prof.repeat_fields(log, "p0.q1", build, end, 0.25, 2.0)
    assert fields["exec.jobs"] == 2 and fields["exec.stages"] == 3
    assert fields["exec.tasks"] == 4
    assert fields["queries.build_jobs"] == 1
    assert fields["queries.build_s"] == 1.3
    assert fields["queries.build_pure_s"] == 0.8  # build minus its 0.5 s job
    assert fields["wall_s"] == 3.0
    assert fields["ckpt.s"] == 0.25 and fields["ckpt.calls"] == 2
    assert fields["spark.slowest_stage_s"] == 0.8
    assert fields["spark.shuffle_read_bytes"] == 1000
    assert fields["spark.shuffle_write_bytes"] == 1000  # check job's 99999 excluded
    assert fields["spark.spill_bytes"] == 96
    mine = prof.op_log(log, "p0.q1", build, end)
    build_metrics = prof.spark_metrics(mine, phases=("build",))
    assert build_metrics["spark.executor_run_s"] == 0.6
    # a window over the whole log still leaves out the warm-up and check jobs
    assert set(prof.op_log(log, "p0.q1", (999.0, 1003.0), 1010.0).jobs) == {1, 2}
    assert set(fields) == {
        "wall_s",
        "queries.build_s",
        "queries.build_pure_s",
        "queries.build_jobs",
        "ckpt.s",
        "ckpt.calls",
        "exec.s",
        "exec.jobs",
        "exec.stages",
        "exec.tasks",
        "spark.slowest_stage_s",
        "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes",
        "spark.spill_bytes",
        "python.run_s",
    }


def test_profile_attributes_untagged_jobs_by_time() -> None:
    """A streaming micro-batch runs under its query's run id as job group;
    inside a build window it is a build job of that repeat, outside any
    window nobody's."""
    prof = _profile_tool()
    log = prof.parse_event_log(str(EVENTLOG))
    Job = type(log.jobs[1])
    log.jobs[10] = Job(10, "0682c1f8-stream-run-id", 1002.6, 1002.7, stage_ids=[])
    log.jobs[11] = Job(11, None, 1005.0, 1005.5, stage_ids=[])
    fields = prof.repeat_fields(log, "p0.q1", (1001.5, 1002.8), 1004.5, 0.0, 0.0)
    assert fields["queries.build_jobs"] == 2
    assert fields["queries.build_pure_s"] == 0.7
    assert fields["exec.jobs"] == 3


def test_no_empty_gate_evidence() -> None:
    """An interrupted sweep commits its log, never an empty summary."""
    gates = TOOLS.parent / "gates"
    empty = sorted(p.name for p in gates.rglob("*") if p.is_file() and p.stat().st_size == 0)
    assert empty == []


def test_no_script_shadows_a_stdlib_module() -> None:
    """Python puts a script's directory first on ``sys.path``, so a
    ``tools/profile.py`` would replace the stdlib ``profile`` for every
    script there and break PySpark's ``import cProfile``."""
    root = TOOLS.parent
    shadowing = sorted(
        str(p.relative_to(root))
        for d in (root, root / "tools", root / "perfbench")
        for p in d.glob("*.py")
        if p.stem in sys.stdlib_module_names
    )
    assert shadowing == []
