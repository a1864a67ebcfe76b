#!/usr/bin/env python
"""Formatted physical plans of catalog queries — plan-quality evidence
(broadcasts, pushdown, pruning, exchange count) without a scratch script.
Three modes, run from anywhere:

    python tools/explain.py QUERY                      # one plan to stdout
    python tools/explain.py --out TAG SUFFIX [QUERY ...]
        # plans/TAG/<query>_SUFFIX.txt for the named queries (default: all)
    python tools/explain.py --showcase                 # regenerate PLANS.md

``--sf-dir`` picks the data (default ``$SPARK_GRAFT_SF_DIR``, else the
driver's sf0.01 testdata beside ``__spark_entry__.SF0_001``; plan shapes
are SF-independent).
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from __spark_entry__ import SF0_001
from bytesme_etl_batch_pipeline_spark.plans import queries as catalog
from bytesme_etl_batch_pipeline_spark.session import get_spark

DEFAULT_SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(SF0_001), "sf0.01")
)

SHOWCASE = [
    (
        "pricing_summary",
        "map-side partial HashAggregate before the single 2-key shuffle; "
        "scan reads only the 5 referenced columns",
    ),
    (
        "dim_join_rollup",
        "dims resolve via BroadcastHashJoin — the fact side never shuffles "
        "for the join; the only exchange is the final rollup",
    ),
    (
        "topk_orders",
        "TakeOrderedAndProject: per-partition heaps, no global sort",
    ),
    (
        "dedup_keep_first",
        "min_by collapse: partial aggregation shrinks the shuffle by the "
        "duplicate factor (no row_number window over the full table)",
    ),
    (
        "membership_filter",
        "predicates reach the parquet scan (PushedFilters) and the schema "
        "is pruned to the projected columns (ReadSchema)",
    ),
    (
        "minhash_lsh_candidates",
        "banded equi-join on (band, band_hash) — candidate generation cost "
        "tracks duplicate density, never n^2",
    ),
    (
        "rule_cascade_classify",
        "the whole 3-tier cascade folds into one WholeStageCodegen "
        "projection — zero exchanges, zero Python",
    ),
    (
        "doc_template_vi",
        "~25 conditional Vietnamese sentences as a single codegen'd "
        "projection over the scan",
    ),
    (
        "line_dedup_docs",
        "global keep-first span dedup: one shuffle on the segment for the "
        "window, one groupBy to reassemble — no pairwise work",
    ),
    (
        "bloom_decontaminate",
        "Bloom probe runs inside the scan-side filter (ArrowEvalPython "
        "before any exchange); only candidate grams reach the exact join",
    ),
    (
        "tpch_q5_local_supplier",
        "6-table star: the fact shuffles once per key, every dimension "
        "rides a BroadcastHashJoin — no SortMergeJoin anywhere",
    ),
    (
        "rolling_7d_active_users",
        "sliding distinct actives via bounded contribute-explode: "
        "equi-shuffles only, no BroadcastNestedLoopJoin range join",
    ),
    (
        "equidepth_histogram",
        "two-pass equi-depth buckets: broadcast 1-row quantile boundaries, "
        "map-side bucket assignment — no single-partition ntile sort",
    ),
    (
        "label_centroids",
        "vector aggregate as posexplode + keyed agg: partial (map-side) "
        "decimal sums before the only exchange",
    ),
    (
        "bigram_logprob_quality",
        "context counts via a window over the bigram dictionary (no second "
        "stream pass); one broadcast join carries both counts back",
    ),
    (
        "cms_heavy_hitters",
        "Count-Min sketch as a window-sum over the 4x-dictionary — single "
        "aggregation chain, 3 exchanges, 256-cell sketch never leaves "
        "executors",
    ),
    (
        "llm_corpus_pipeline",
        "the full corpus pipeline (gate -> dedup -> decontaminate -> "
        "split) as one composed plan: pushed-down gate, one digest "
        "shuffle, broadcast eval grams, map-side split",
    ),
]


def explain(spark, name: str, sf_dir: str) -> str:
    df = catalog.SPARK_QUERIES[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def write_showcase(spark, sf_dir: str) -> None:
    out = [
        "# PLANS — flagship physical plans (generated by tools/explain.py)",
        "",
        f"Source data: `{sf_dir}` (plan shapes are SF-independent).",
        "Regenerate after planner-relevant changes: "
        "`python tools/explain.py --showcase`.",
        "",
    ]
    for name, why in SHOWCASE:
        plan = explain(spark, name, sf_dir)
        out.append(f"## {name}\n\n*{why}*\n\n```\n{plan.rstrip()}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(SHOWCASE)} plans)")


def write_dir(spark, names: list[str], tag: str, suffix: str, sf_dir: str) -> None:
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            plan = explain(spark, name, sf_dir)
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            plan = f"ERROR building/explaining: {exc}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(name, file=sys.stderr)


def main() -> None:
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    p.add_argument("names", nargs="*", metavar="QUERY")
    mode = p.add_mutually_exclusive_group()
    mode.add_argument("--out", nargs=2, metavar=("TAG", "SUFFIX"))
    mode.add_argument("--showcase", action="store_true")
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    args = p.parse_args()
    unknown = [n for n in args.names if n not in catalog.SPARK_QUERIES]
    if unknown:
        p.error(f"unknown queries: {unknown}")
    if args.showcase and args.names:
        p.error("--showcase takes no QUERY")
    if not (args.out or args.showcase) and len(args.names) != 1:
        p.error("name exactly one QUERY, or use --out / --showcase")

    spark = get_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    if args.showcase:
        write_showcase(spark, args.sf_dir)
    elif args.out:
        tag, suffix = args.out
        names = args.names or list(catalog.SPARK_QUERIES)
        write_dir(spark, names, tag, suffix, args.sf_dir)
    else:
        print(explain(spark, args.names[0], args.sf_dir))


if __name__ == "__main__":
    main()
