#!/usr/bin/env python
"""Pre-flight replica of the driver's correctness gate.

The driver records CORRECTNESS rows for the FIRST 50 catalog entries
(``plans/queries._DRIVER_WINDOW``) at sf0.01: per query it runs the Spark
side AND the DuckDB oracle, then compares row count, column names, and an
order-insensitive value hash. This tool runs the SAME gate locally (via
the harness in ``tests/oracle.py``, which replicates the driver's
comparator semantics including its pandas hash classes) so a session can
verify the exact driver window before the round closes.

Usage:
    python tools/driver_gate.py                 # first 50, sf0.01
    python tools/driver_gate.py --window 0      # ENTIRE catalog
    python tools/driver_gate.py --names q1 q2   # just these queries
    python tools/driver_gate.py --sf-dir /root/testdata/sf0.001

Prints one status line per query to stderr and a final JSON summary to
stdout; exit code 1 if any checked query is not green.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bytesme_etl_batch_pipeline_spark.plans import queries as catalog
from bytesme_etl_batch_pipeline_spark.session import get_spark
from tests.oracle import compare, duckdb_con, fingerprint_compare, rows_only_canon


_TRANSIENT_SUBSTRINGS = (
    "memory",
    "alloc",
    "resource temporarily",
    "spill",
)


def _is_transient_duck_error(exc: Exception) -> bool:
    """Retry only allocation/OOM-shaped oracle-open failures. Prefer
    DuckDB's typed exceptions (ADVICE r8: a permanent config error that
    merely MENTIONS 'memory' must fail fast, and a transient OOM phrased
    without the keyword must still retry); fall back to the substring
    heuristic for OS-level errors that surface as plain Exceptions.

    ADVICE r9: IOException also covers PERMANENT failures (missing or
    corrupt parquet, bad path) — it is transient only when its message is
    allocation/spill-shaped; a bare IOException fails fast instead of
    burning the 2x30s retry loop per query across a 244-query sweep."""
    try:
        import duckdb

        oom = getattr(duckdb, "OutOfMemoryException", None)
        if oom is not None and isinstance(exc, oom):
            return True
        ioexc = getattr(duckdb, "IOException", None)
        if ioexc is not None and isinstance(exc, ioexc):
            # spill-file pressure retries; missing/corrupt file does not
            return any(t in str(exc).lower() for t in _TRANSIENT_SUBSTRINGS)
        # a typed duckdb error that is NOT OOM/alloc-IO is permanent — do
        # not let 'memory_limit' in a config message trigger the retry loop
        base = getattr(duckdb, "Error", None)
        if base is not None and isinstance(exc, base):
            return False
    except ImportError:  # pragma: no cover — duckdb is baked in
        pass
    return any(t in str(exc).lower() for t in _TRANSIENT_SUBSTRINGS)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument(
        "--window",
        type=int,
        default=50,
        help="check the first N catalog entries (0 = all)",
    )
    p.add_argument("--names", nargs="*", help="explicit query names (overrides --window)")
    p.add_argument(
        "--skip",
        nargs="*",
        default=[],
        help="query names to exclude (recorded in the summary as skipped) — "
        "the sf10 sweep uses this for the documented quadratic-verify skips "
        "whose EXACT pair-verify work grows ~SF² on both engines",
    )
    p.add_argument(
        "--bigout-rows",
        type=int,
        default=0,
        help="scale-probe triage (0 = off, full driver parity): oracle-paired "
        "queries whose Spark output exceeds N rows are checked with the "
        "engine-side fingerprint (tests/oracle.fingerprint_compare: row count "
        "+ order-insensitive row-hash-sum over non-float columns + exact "
        "COUNT/MIN/MAX and tolerant SUM per float column) instead of the full "
        "collect+hash — the comparator's collect-into-Python design caps out "
        "around driver maxResultSize on O(N)-row outputs at sf10 "
        "(dedup_keep_first: 60M rows > 1 GiB serialized). Unlike the former "
        "count-vs-count triage this still pins VALUES, so divergent "
        "tie-breaking/survivor selection at scale is caught.",
    )
    args = p.parse_args()
    if not os.path.isdir(args.sf_dir):
        p.error(f"--sf-dir does not exist: {args.sf_dir}")

    order = list(catalog.SPARK_QUERIES)  # driver window first
    if args.names:
        unknown = [n for n in args.names if n not in catalog.SPARK_QUERIES]
        if unknown:
            p.error(f"unknown queries: {unknown}")
        names = args.names
    else:
        names = order if args.window == 0 else order[: args.window]
    if args.skip:
        unknown = [n for n in args.skip if n not in catalog.SPARK_QUERIES]
        if unknown:
            p.error(f"unknown --skip queries: {unknown}")
        names = [n for n in names if n not in args.skip]

    spark = get_spark(
        "driver-gate",
        # headroom for sf1/sf10 scale sweeps; the driver itself runs at
        # sf0.01 where the default 1g envelope is never approached
        extra_conf={"spark.driver.maxResultSize": "4g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    green, red, no_oracle, bigout = [], [], [], []
    for name in names:
        t0 = time.perf_counter()
        sql = catalog.ORACLE_SQL.get(name)
        if sql is None:
            # driver records a weaker rows-only check for these — but it
            # STILL canonicalizes the output through pandas sort_values
            # over all columns, so an unhashable (list/struct) cell is a
            # driver error, not a pass (the r05 PQ rows). Replicate that.
            try:
                n = rows_only_canon(catalog.SPARK_QUERIES[name](spark, args.sf_dir))
            except Exception as e:  # noqa: BLE001 — mirror the driver's err row
                red.append(name)
                status = f"RED rows-only canonicalization failed: {e!r}"
            else:
                no_oracle.append(name)
                status = f"no_oracle rows={n}"
        else:
            # a crash (engine OOM, result-size cap) is a RED row for THIS
            # query, never a sweep abort — an sf10 pass that dies on query
            # 40 silently leaves 200 unchecked (three aborted runs taught
            # this). The driver's own gate records an err row and moves on.
            persisted = None
            con = None
            try:
                # FRESH oracle connection per query: DuckDB's buffer pool
                # is per-connection state, and a giant spilling oracle
                # (sf10 bigram LM, 61 GB peak) leaves it pinned at
                # memory_limit after the query returns — every subsequent
                # oracle on the shared connection then dies failing to
                # allocate kilobytes while the host sits at 90+ GB free.
                # This, not host-level contention, was the r6 sweep's
                # 37-consecutive-OOM failure mode. Creation sits INSIDE
                # the try (a failed open is this query's RED row, not a
                # sweep abort) with a short retry, because a transient
                # host-memory spike right after a pandas-UDF-heavy query
                # can fail even a kilobyte allocation for a moment.
                # Retry ONLY allocation/OOM-shaped failures — a permanent
                # config error (bad --sf-dir, missing parquet) must fail fast,
                # not sleep 60 s per query across a 241-query catalog.
                for attempt in range(3):
                    try:
                        con = duckdb_con(args.sf_dir)
                        break
                    except Exception as oe:  # noqa: BLE001 — transient pressure
                        if attempt == 2 or not _is_transient_duck_error(oe):
                            raise
                        time.sleep(30)
                df = catalog.SPARK_QUERIES[name](spark, args.sf_dir)
                if args.bigout_rows:
                    # persist so the triage count and the subsequent compare
                    # (either path) execute the plan ONCE, not twice — at sf10
                    # the re-execution roughly doubled sweep wall time
                    persisted = df.persist()
                    n_spark = persisted.count()
                    df = persisted
                else:
                    n_spark = None
                if args.bigout_rows and n_spark > args.bigout_rows:
                    r = fingerprint_compare(df, con, sql)
                    ok = r["values_match"] and r["types_match"]
                    if ok:
                        bigout.append(name)
                        status = f"bigout fingerprint-match rows={n_spark}"
                    else:
                        red.append(name)
                        status = f"RED bigout fingerprint {json.dumps({k: r[k] for k in ('rows_match', 'cols_match', 'types_match', 'values_match')})}"
                else:
                    r = compare(df, con, sql)
                    ok = r["values_match"] and r["types_match"]
                    (green if ok else red).append(name)
                    status = "green" if ok else f"RED {json.dumps({k: r[k] for k in ('rows_match', 'cols_match', 'types_match', 'values_match')})}"
            except Exception as e:  # noqa: BLE001 — record, continue the sweep
                red.append(name)
                # collapse whitespace: Py4J/Spark exception text is multi-line,
                # and merge_gate_logs.py depends on one-physical-line-per-query
                status = (
                    "RED comparator crashed: "
                    f"{type(e).__name__}: {' '.join(str(e).split())[:200]}"
                )
            finally:
                if persisted is not None:
                    persisted.unpersist()
                if con is not None:
                    con.close()
        print(
            f"{name:45s} {status}  ({time.perf_counter() - t0:.2f}s)",
            file=sys.stderr,
            flush=True,
        )
        # free the finished query's py4j handles so localCheckpoint blocks
        # are reclaimed (same session-lifecycle leak bench.py guards
        # against; at sf10 an unreleased multi-branch query's blocks add up)
        gc.collect()

    print(
        json.dumps(
            {
                "sf_dir": args.sf_dir,
                "checked": len(names),
                "green": len(green),
                "no_oracle": no_oracle,
                "bigout_fingerprint": bigout,
                "skipped": args.skip,
                "red": red,
            }
        )
    )
    return 1 if red else 0


if __name__ == "__main__":
    raise SystemExit(main())
