"""Physical-plan regression tests — the 100 TB guardrails.

Correctness tests prove the small-SF answer; these prove the PLAN is the one
that survives scale-up: dims broadcast (fact side never shuffles for a join),
predicates reach the parquet scan, projections prune the read schema, top-k
avoids a global sort, aggregations combine map-side."""

from __future__ import annotations

import pytest

from bytesme_etl_batch_pipeline_spark.plans import queries as catalog


def plan_of(spark, sf_dir, name: str) -> str:
    df = catalog.SPARK_QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dim_join_rollup")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan  # a 100 TB fact must not sort for dims


def test_filters_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "membership_filter")
    assert "PushedFilters: [" in plan
    assert "In(p_type" in plan  # IN-list reaches parquet


def test_projection_prunes_read_schema(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dim_join_rollup")
    # customer scan must read only the join key + aggregated column
    assert "ReadSchema: struct<c_nationkey:int,c_acctbal:double>" in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no full sort shuffle


def test_aggregation_is_partial(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pricing_summary")
    # partial (map-side) + final HashAggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_q2_q20_rollups_filter_before_aggregate(spark, sf_dir):
    """r10 optimization contract: both TPC-H rollups must consume a
    dim-filtered fact stream, never aggregate-then-discard. In the
    optimized LOGICAL plan (parent printed before child) the fact-side
    Aggregate must sit ABOVE a Join of lineitem — q2's regional broadcast
    join, q20's part semi-join — so the rollup only sees qualifying rows."""
    from bytesme_etl_batch_pipeline_spark.plans import queries as catalog

    for name, join_marker in (
        ("tpch_q2_min_cost_supplier", "Join Inner"),
        ("tpch_q20_part_share_suppliers", "Join LeftSemi"),
    ):
        lp = (
            catalog.SPARK_QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        # anchor on the Aggregate's CHILD SUBTREE via tree indentation
        # (ADVICE r10: a flat substring-after-index scan also matches
        # sibling subtrees of ancestor joins printed after the Aggregate,
        # so a regressed aggregate-then-discard shape could false-pass)
        lines = lp.splitlines()

        def _prefix(line: str) -> int:
            return len(line) - len(line.lstrip(" :+-"))

        agg_i = next(
            i for i, l in enumerate(lines) if "Aggregate [l_partkey" in l
        )
        base = _prefix(lines[agg_i])
        subtree = []
        for l in lines[agg_i + 1:]:
            if _prefix(l) <= base:
                break
            subtree.append(l)
        assert join_marker in "\n".join(subtree), (
            f"{name}: the (l_partkey, l_suppkey) rollup no longer has the "
            f"pre-filtering {join_marker} beneath it - the "
            "aggregate-everything-then-discard shape regressed"
        )


def test_cascade_is_single_projection(spark, sf_dir):
    """C1 compiles to a map-side projection: no exchange, no UDF."""
    plan = plan_of(spark, sf_dir, "rule_cascade_classify")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_enrichment_is_whole_stage_codegen(spark, sf_dir):
    """Seeded randomness stays JVM-side (no Python in the hot path)."""
    plan = plan_of(spark, sf_dir, "seeded_enrichment")
    assert "*(1) Project" in plan  # '*' = whole-stage-codegen stage marker
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# Queries allowed a BroadcastNestedLoopJoin: single-row broadcast query
# vectors (top-k / ANN / semantic search), single-row broadcast aggregates
# (skew report's mean), and the 4-tier range join.
BNLJ_ALLOWED = {
    "cosine_topk",
    "l2_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "range_join_balance_tiers",
    "semantic_search_pipeline",
    "join_skew_report",
    "heavy_hitter_tokens",  # single-row broadcast corpus total
    "unigram_logprob_quality",  # single-row broadcast token total
    "equidepth_histogram",  # single-row broadcast quartile boundaries
    "ccnet_quality_buckets",  # single-row broadcast token total (unigram LM)
    "bigram_logprob_quality",  # single-row broadcast vocabulary size
    "kmeans_lloyd_step",  # 8-row broadcast centroid table
    "pq_adc_search",  # single-row broadcast query vector in the re-rank
    "ivfpq_topk",  # single-row broadcast query vector in the re-rank
    "copurchase_triangles",  # three 1-row count aggregates cross-joined
    "revenue_pareto_deciles",  # single-row broadcast grand total
    "dedup_effectiveness_report",  # three 1-row stat aggregates cross-joined
    "tpch_q15_top_supplier",  # single-row broadcast max-revenue scalar
    "source_token_divergence",  # single-row broadcast corpus token total
    "tpch_q11_important_stock",  # single-row broadcast value total
    "tpch_q22_global_sales_opportunity",  # single-row broadcast avg-cut scalar
    "dsir_importance_resample",  # single-row broadcast bucket totals
    "ann_recall_report",  # 20-row broadcast query batch on both eval sides
    "bitext_margin_mining",  # side-B (~50-row) broadcast cross score
    "cuped_ab_adjusted_lift",  # single-row broadcast moment sums (theta)
    "contrastive_training_pairs",  # single-row broadcast corpus count
    "bigram_pmi_collocations",  # single-row broadcast corpus token total
    "cusum_changepoint_scan",  # 1-row broadcast mean + 1-row broadcast max
    "embedding_norm_outliers",  # 1-row broadcast median + MAD scalars
    "heaps_law_curve",  # 10-row bucket frame triangular cumulation
    "source_overlap_estimate",  # 1-row broadcast union-sketch estimate
    "rollup_share_of_parent",  # lattice self-join on the tiny rollup frame
}
# Streaming query starts a real stream — no static plan to lint.
PLAN_LINT_SKIP = {"streaming_windowed_counts", "streaming_session_counts"}

# Per-query exchange-budget overrides: the default 8 assumes a single
# operator family; a deliberate COMPOSITE chains several stages whose
# budgets add. Each override documents the composition it covers.
EXCHANGE_BUDGET = {
    # quality gate (0) + exact dedup (3) + decontaminate (4) + clean join
    # (2) + split (0) — four stages, each within its standalone budget
    "llm_corpus_pipeline": 12,
    # estimate chain (sig agg + pair agg) + exact-verify chain (sizes +
    # blocked common agg) + the report joins — two pipelines compared
    "minhash_estimator_quality": 11,
    # _cpu_spread: multi-branch queries repeat the small-input spread
    # repartition once per deliberate re-scan (COVERAGE.md "multi-pass vs
    # materialize") — each is a ~600 KB round-robin redistribution buying
    # 32x map parallelism on a non-splittable file, and load_table skips
    # it entirely once the scan has natural splits (any at-scale table),
    # where these queries return to their audited shuffle counts
    "neardup_dedup_docs": 11,
    "shingle_containment_pairs": 10,
    "minhash_lsh_candidates": 11,
    # two checkpointed ranking pipelines compared across 4 metric branches
    # (recall/MRR/candidate-count/report spine) — every post-checkpoint
    # exchange is eval-batch-sized (≤ 20 q_id groups)
    "ann_recall_report": 11,
}


def test_catalog_plan_lint(spark, sf_dir):
    """Whole-catalog physical-plan lint: no cartesian products ever, nested-
    loop joins only where a broadcast single-row/tiny side justifies them,
    and no query needs more than 8 exchanges (current max: the 7-stage
    minhash-LSH pipeline). Guards future query additions against accidental
    plan explosions."""
    offenders = []
    for name, fn in catalog.SPARK_QUERIES.items():
        if name in PLAN_LINT_SKIP:
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            offenders.append((name, "unexpected BroadcastNestedLoopJoin"))
        n_ex = plan.count("Exchange")
        if n_ex > EXCHANGE_BUDGET.get(name, 8):
            offenders.append((name, f"{n_ex} exchanges"))
    assert not offenders, offenders


def test_driver_window_holds_rotation_priority(monkeypatch):
    """The driver records correctness rows for the FIRST 50 catalog
    entries. Round 11's window (VERDICT r10 item 1): the r10 window was
    rotated before the r10 optimization work existed, so the queries r10
    restructured never got a driver-stamped parity row. Slots 1-29 are
    the union of the r10-rewritten set named in VERDICT r10 and every
    query round 11 itself touches; slots 30-50 refresh the 21 stalest
    remaining rows (newest driver evidence r03). All 50 are oracle-paired
    - a full-hash window. _apply_catalog_order puts the window first and
    every other query after it, so (a) the window is bit-for-bit the
    planned rotation, and (b) a newly registered query sorts after slot
    50 instead of evicting the window tail."""
    from bytesme_etl_batch_pipeline_spark.plans import queries as catalog
    from bytesme_etl_batch_pipeline_spark.plans.queries import (
        ORACLE_SQL,
        SPARK_QUERIES,
    )

    monkeypatch.setattr(catalog, "SPARK_QUERIES", dict(SPARK_QUERIES))
    monkeypatch.setattr(catalog, "ORACLE_SQL", dict(ORACLE_SQL))
    catalog.register("zz_unlisted_probe")(lambda spark, sf_dir: None)
    catalog._apply_catalog_order()
    probed = list(catalog.SPARK_QUERIES)
    assert probed[:50] == list(SPARK_QUERIES)[:50]
    assert probed.index("zz_unlisted_probe") >= 50
    r11_window = [
        # slots 1-29: r10-rewritten (VERDICT r10 item 1) + r11-touched
        "minhash_signatures", "minhash_lsh_candidates",
        "minhash_estimator_quality", "embedding_pairs_ann",
        "semantic_dedup_ann", "bitext_margin_ann",
        "tpch_q2_min_cost_supplier", "tpch_q20_part_share_suppliers",
        "exact_dedup_docs", "llm_corpus_pipeline", "basket_lift_rules",
        "dsir_importance_resample", "media_phash_dedup",
        "bitext_margin_mining", "embedding_quantize_int8",
        "udtf_unit_price_explode", "ngram_jaccard_pairs",
        "shingle_containment_pairs", "neardup_dedup_docs",
        "neardup_keep_best_docs", "contrastive_training_pairs",
        "bloom_decontaminate", "streaming_windowed_counts",
        "streaming_session_counts", "neardup_clusters",
        "neardup_clusters_star", "embedding_pairs_blocked",
        "semantic_dedup_embeddings", "ann_recall_report",
        # slots 30-50: stalest remaining driver rows (r03 era)
        "ann_ivf_topk", "ann_lsh_topk", "array_ops_battery",
        "content_checksums", "corpus_stats", "cumulative_new_users",
        "data_quality_report", "dau_wau_stickiness",
        "decontaminate_ngram_overlap", "doc_embeddings", "doc_template_vi",
        "equidepth_histogram", "event_transition_matrix",
        "funnel_conversion", "fuzzy_name_pairs", "heavy_hitter_tokens",
        "intra_doc_span_dedup", "label_centroids", "longest_user_streaks",
        "media_decode", "simhash_hamming_pairs",
    ]
    assert len(r11_window) == 50
    first50 = list(SPARK_QUERIES)[:50]
    assert first50 == r11_window, (
        "driver window drifted from the planned r11 rotation: "
        f"{[n for n in r11_window if n not in first50]} fell out; "
        f"{[n for n in first50 if n not in r11_window]} crept in"
    )
    # every r11 window entry carries the hard signal (oracle pair)
    no_oracle = [n for n in first50 if n not in ORACLE_SQL]
    assert no_oracle == []


def test_catalog_counts_match_coverage_doc():
    """VERDICT r3 item 5: COVERAGE.md's ledger counts must be derived from
    the catalog, not hand-tallied (two rounds in a row had a miscount).
    Parses the 'Final catalog state' line and compares every number and
    the named rows-only set against the live registry."""
    import os
    import re

    from bytesme_etl_batch_pipeline_spark.plans.queries import (
        ORACLE_SQL,
        SPARK_QUERIES,
    )

    doc = open(
        os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md"),
        encoding="utf-8",
    ).read()
    m = re.search(
        r"Final catalog state: \*\*(\d+) queries, (\d+) oracle-paired\*\*, (\d+)\n"
        r"declared rows-only \((.*?)\)",
        doc,
        re.S,
    )
    assert m, "COVERAGE.md lost its 'Final catalog state' tally line"
    n_q, n_o, n_ro = int(m.group(1)), int(m.group(2)), int(m.group(3))
    named = set(re.findall(r"`([a-z0-9_]+)`", m.group(4)))
    rows_only = {n for n in SPARK_QUERIES if n not in ORACLE_SQL}
    assert n_q == len(SPARK_QUERIES), (n_q, len(SPARK_QUERIES))
    assert n_o == len(ORACLE_SQL), (n_o, len(ORACLE_SQL))
    assert n_ro == len(rows_only), (n_ro, sorted(rows_only))
    assert named == rows_only, (
        f"doc names {sorted(named)} but catalog rows-only is {sorted(rows_only)}"
    )

    # VERDICT r4 item 5 (third miscount in three rounds — make the class
    # impossible): EVERY present-tense whole-catalog tally in the doc must
    # match the live registry, not just the 'Final catalog state' line.
    # Historical counts are fine when phrased as such ("the round-2 ledger
    # said ..."); the patterns below only match the canonical current-state
    # claim shapes.
    norm = re.sub(r"\s+", " ", doc)
    offenders = []
    for num in re.findall(r"All (\d+) oracle pairs", norm):
        if int(num) != len(ORACLE_SQL):
            offenders.append(f"'All {num} oracle pairs' vs live {len(ORACLE_SQL)}")
    for q, o in re.findall(r"\*\*(\d+) queries, (\d+) oracle-paired\*\*", norm):
        if int(q) != len(SPARK_QUERIES) or int(o) != len(ORACLE_SQL):
            offenders.append(
                f"'**{q} queries, {o} oracle-paired**' vs live "
                f"{len(SPARK_QUERIES)}/{len(ORACLE_SQL)}"
            )
    for num in re.findall(r"(\d+) declared rows-only", norm):
        if int(num) != len(rows_only):
            offenders.append(
                f"'{num} declared rows-only' vs live {len(rows_only)}"
            )
    assert not offenders, f"stale catalog tallies in COVERAGE.md: {offenders}"


def test_neardup_lsh_edges_memoized_per_app_and_sfdir(spark, sf_dir):
    """Both CC cluster queries must reuse ONE materialized LSH artifact
    within a session (VERDICT r3 item 3), while a different sf_dir gets
    its own; entries from other (dead) applications are evicted."""
    from bytesme_etl_batch_pipeline_spark.plans import queries as Q

    Q._LSH_EDGES_MEMO.clear()
    a = Q._neardup_lsh_edges(spark, sf_dir)
    b = Q._neardup_lsh_edges(spark, sf_dir)
    assert a is b  # second caller skips the cascade entirely
    app = spark.sparkContext.applicationId
    assert set(Q._LSH_EDGES_MEMO) == {(app, sf_dir)}
    # a stale entry from another app is evicted on the next compute
    Q._LSH_EDGES_MEMO[("dead-app", sf_dir)] = a
    c = Q._neardup_lsh_edges(spark, "/root/testdata/sf0.01")
    assert c is not a
    assert ("dead-app", sf_dir) not in Q._LSH_EDGES_MEMO
    assert set(Q._LSH_EDGES_MEMO) == {
        (app, sf_dir), (app, "/root/testdata/sf0.01")
    }
    Q._LSH_EDGES_MEMO.clear()


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_building_scans_and_queries_runs_no_job(spark, sf_dir):
    """Declared scan schemas: a cold ``load_table`` reads no Parquet footer,
    so neither it nor building the benchmark's catalog sample starts a Spark
    job (a streaming drain's micro-batches run under the stream's own job
    group, not this one)."""
    from bytesme_etl_batch_pipeline_spark.sources import tables

    tables._clear_scan_memo()
    loads = _jobs_in_group(
        spark, "no-job-test:scans",
        lambda: [tables.load_table(spark, sf_dir, t) for t in tables.TABLE_NAMES],
    )
    tables._clear_scan_memo()
    names = ["pricing_summary", "tpch_q3_shipping_priority", "streaming_windowed_counts"]
    builds = _jobs_in_group(
        spark, "no-job-test:build",
        lambda: [catalog.SPARK_QUERIES[n](spark, sf_dir) for n in names],
    )
    assert (loads, builds) == (0, 0)


def test_load_table_rejects_unknown_table(spark, sf_dir):
    from bytesme_etl_batch_pipeline_spark.sources.tables import load_table

    with pytest.raises(KeyError):
        load_table(spark, sf_dir, "no_such_table")
