"""Junk-input robustness for the round-2 corpus operators, exercised through
the REGISTERED catalog queries over a junk-laden documents table (the
round-1 ADVICE lesson: ANSI mode is on, so empty/NULL junk — exactly what
corpus operators exist to screen — must produce defined results, not
DIVIDE_BY_ZERO/CAST errors; and re-implemented expression copies in tests
would let the shipped queries regress unnoticed)."""

from __future__ import annotations

import os

import pytest

from bytesme_etl_batch_pipeline_spark.plans import queries as catalog

JUNK = [
    (1, None, None, "src0", None),
    (2, "", "en", "src0", 0),
    (3, "   \t  ", "vi", "src1", 6),
    (4, "chỉ một từ nữa đây rồi nhé bạn ơi thật là dài quá đi mà thôi kệ nó "
        "vậy nha bạn hiền ơi đồng ý không nào", "vi", "src1", 104),
    (5, "!!! ??? ###", "de", "src1", 11),
]
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.fixture(scope="module")
def junk_sf_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("junk_sf"))
    spark.createDataFrame(JUNK, SCHEMA).write.parquet(
        os.path.join(d, "documents.parquet")
    )
    return d


def test_repetition_signals_on_junk(spark, junk_sf_dir):
    out = catalog.SPARK_QUERIES["repetition_signals"](spark, junk_sf_dir)
    got = {r["doc_id"]: r for r in out.collect()}
    # NULL/empty/whitespace docs have no words → no row, no division error
    assert set(got) == {4, 5}
    assert got[4]["n_words"] == 27


def test_pii_redact_on_junk(spark, junk_sf_dir):
    out = catalog.SPARK_QUERIES["pii_redact"](spark, junk_sf_dir)
    got = {r["doc_id"]: r["redacted"] for r in out.collect()}
    assert len(got) == 5
    assert got[1] is None  # NULL text propagates, no crash
    # synthesized PII is injected and masked even on the empty doc
    assert "<PHONE>" in got[4]
    assert "@" not in got[3] or "<EMAIL>" in got[3]


def test_quality_filter_chain_on_junk(spark, junk_sf_dir):
    out = catalog.SPARK_QUERIES["quality_filter_chain"](spark, junk_sf_dir)
    got = {r["doc_id"]: (r["reject_reason"], r["kept"]) for r in out.collect()}
    # every junk row rejected with a defined, two-valued reason —
    # including the NULL-metadata row (missing_metadata, not kept=true)
    assert got[1] == ("missing_metadata", False)
    assert got[2] == ("too_short", False)
    assert got[3] == ("too_short", False)
    assert got[5] == ("too_short", False)


def test_doc_chunking_and_packing_on_junk(spark, junk_sf_dir):
    chunks = catalog.SPARK_QUERIES["doc_chunking"](spark, junk_sf_dir)
    by_doc = {}
    for r in chunks.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    # wordless/NULL docs emit NO chunks (consistent both engines)
    assert set(by_doc) == {4, 5}
    assert by_doc[4][0]["n_tokens"] == 27

    packed = catalog.SPARK_QUERIES["sequence_packing"](spark, junk_sf_dir)
    got = {r["doc_id"]: r for r in packed.collect()}
    assert len(got) == 5
    # NULL text → NULL token count/bin (propagates, same in the oracle)
    assert got[1]["n_tokens"] is None and got[2]["n_tokens"] == 0


def test_junk_oracle_parity(spark, junk_sf_dir):
    """The junk table must ALSO hash-match the DuckDB oracles — the same
    NULL/empty rows the driver's testdata lacks."""
    from tests.oracle import compare, duckdb_con

    con = duckdb_con(junk_sf_dir)
    for name in DOC_JUNK_QUERIES:
        r = compare(
            catalog.SPARK_QUERIES[name](spark, junk_sf_dir),
            con,
            catalog.ORACLE_SQL[name],
        )
        assert r["values_match"], (name, r)


def test_doc_junk_query_list_is_complete():
    """Every oracle-paired documents-only query must be in the junk sweep —
    derived from the catalog source with helper reads resolved (the star
    sweep's original direct-scan parse let helper-fed queries escape; here
    the two CC-cluster queries read documents through _neardup_lsh_edges)."""
    from tests.oracle import catalog_table_reads

    expected = {
        name
        for name, tabs in catalog_table_reads().items()
        if tabs == {"documents"} and name in catalog.ORACLE_SQL
    }
    assert expected == set(DOC_JUNK_QUERIES), (
        sorted(expected - set(DOC_JUNK_QUERIES)),
        sorted(set(DOC_JUNK_QUERIES) - expected),
    )


DOC_JUNK_QUERIES = [
        "repetition_signals",
        "pii_redact",
        "quality_filter_chain",
        "doc_chunking",
        "sequence_packing",
        "domain_cap",
        # empty eval slice (no junk doc_id % 53 == 0): every doc must come
        # back n_overlap=0 in both engines, broadcast of an empty set included
        "decontaminate_ngram_overlap",
        "heavy_hitter_tokens",
        "temperature_sample_mix",
        # NULL/empty/whitespace docs must yield clean_text='' (not crash) and
        # the empty eval slice must decontaminate nothing
        "line_dedup_docs",
        "bloom_decontaminate",
        # NULL/empty docs: NULL avg_logprob, kept=false, no div-by-zero
        "unigram_logprob_quality",
        # NULL text → NULL normalized forms; Vietnamese rows byte-match
        # DuckDB's utf8proc nfc_normalize/strip_accents
        "unicode_normalize_docs",
        # junk docs score 0.0 and rank at the bottom of their source
        "percentile_quality_gate",
        # NULL/zero-weight docs are excluded, never a division error
        "weighted_sample_docs",
        # round 3: NULL text hashes via no row/sentinel consistently;
        # wordless docs emit no bigrams/tokens in either engine
        "content_checksums",
        "per_group_sample_docs",
        "token_bigram_counts",
        "top_tokens_per_lang",
        # NULL text → empty span list → clean_text '' in both engines
        "intra_doc_span_dedup",
        # NULL/empty docs segment to nothing → clean_text '' via the left
        # join; docs with no scored tokens are absent from the terciles
        "boilerplate_purge_docs",
        "ccnet_quality_buckets",
        # <2-token docs have no bigrams → NULL score, kept=false
        "bigram_logprob_quality",
        # junk rows (NULL/short/symbol-heavy) must fall at the GATE stage,
        # and the empty junk eval slice must decontaminate nothing
        "llm_corpus_pipeline",
        # wordless junk docs contribute no tokens to any sketch cell
        "cms_heavy_hitters",
        # round 3 tail: NULL/empty docs keep log_weight 0 (Gumbel key still
        # defined), NULL oov rate, NULL quality metrics with kept=false —
        # never a division error
        "dsir_importance_resample",
        "vocab_oov_rate",
        "gopher_quality_rules",
        # round 4: EVERY remaining oracle-paired documents-only query — the
        # r05 driver-window queue. The sweep that added these caught six
        # real junk divergences: a slice(-1) ANSI crash (bigram PMI),
        # countDistinct/equi-join silently dropping NULL digests (exact
        # dedup + both dup-rate reports), NULL-vs-'' array joins
        # (array battery, fingerprint prefix), and a NULL-lang majority
        # tie flipping on Spark's NULLS FIRST vs DuckDB's NULLS LAST.
        "array_ops_battery",
        "bigram_pmi_collocations",
        "contrastive_training_pairs",
        "corpus_stats",
        "dedup_effectiveness_report",
        "doc_embeddings",
        "doc_fingerprint",
        "doc_ngram_novelty",
        "doc_quality",
        "doc_token_entropy",
        "dup_cluster_size_distribution",
        "dup_rate_by_source",
        "exact_dedup_docs",
        "extraction_artifact_screen",
        "global_shuffle_shards",
        "heaps_law_curve",
        "inverted_token_index",
        "lang_id",
        "lang_id_confusion_matrix",
        "lang_purity_by_source",
        "minhash_estimator_quality",
        "minhash_lsh_candidates",
        "minhash_signatures",
        "neardup_dedup_docs",
        "neardup_keep_best_docs",
        "ngram_jaccard_pairs",
        "shingle_containment_pairs",
        "simhash16",
        "simhash_hamming_pairs",
        "source_quality_scorecard",
        "source_token_divergence",
        "stratified_sample_docs",
        "tfidf_top_terms",
        "token_position_bias",
        "token_stats",
        "train_val_test_split",
        "truncate_preview",
        "winnow_fingerprints",
        "wordcount",
        "zipf_fit_report",
        # round 4 (helper-resolved completeness guard): the CC-cluster
        # pair reads documents through _neardup_lsh_edges — junk docs must
        # produce no junk edges, so both variants must label exactly the
        # clean transitive clusters the recursive-CTE oracles replay
        "neardup_clusters",
        "neardup_clusters_star",
]


JUNK_EMB_DIM = 64


@pytest.fixture(scope="module")
def junk_emb_dir(spark, tmp_path_factory):
    """Embeddings table with the corrupt-vector shapes real pipelines see:
    a NULL vector, a vector with one NULL element, and an all-zero vector,
    alongside deterministic valid vectors (ids 0..15 — the query/centroid
    id ranges the ANN catalog queries assume)."""
    import numpy as np

    rows = []
    for i in range(16):
        rng = np.random.RandomState(i)
        rows.append(
            (i, [float(np.round(v, 4)) for v in rng.uniform(-1, 1, JUNK_EMB_DIM)],
             i % 2)
        )
    null_elem = [0.5] * JUNK_EMB_DIM
    null_elem[7] = None
    rows += [(100, None, 0), (101, null_elem, 1), (102, [0.0] * JUNK_EMB_DIM, 0)]
    # ragged vectors: wrong length without any NULL element — the shape a
    # schema-drifted or truncated upstream writer produces
    rows += [
        (103, [0.25] * (JUNK_EMB_DIM - 2), 1),
        (104, [0.25] * (JUNK_EMB_DIM + 2), 0),
    ]
    d = str(tmp_path_factory.mktemp("junk_emb"))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(d, "embeddings.parquet"))
    return d


def test_embeddings_junk_oracle_parity(spark, junk_emb_dir):
    """Corrupt vectors must hash-match the oracles too. The sweep that
    added this caught: DuckDB list_sum silently computing PARTIAL dot
    products/distances over NULL elements (vs the engine's NULL
    propagation), LSH signatures piling corrupt vectors into bucket 0,
    and the Lloyd step mis-assigning them instead of excluding them from
    training."""
    from tests.oracle import compare, duckdb_con

    con = duckdb_con(junk_emb_dir)
    for name in EMB_JUNK_QUERIES:
        r = compare(
            catalog.SPARK_QUERIES[name](spark, junk_emb_dir),
            con,
            catalog.ORACLE_SQL[name],
        )
        assert r["values_match"], (name, r)


def test_rows_only_doc_queries_survive_junk(spark, junk_sf_dir):
    """The declared rows-only documents queries (no oracle twin) must still
    produce defined results on junk — NULL/empty/whitespace docs through
    the BPE trainer, the zlib screen, and the overlap sketch must never
    crash (ANSI casts, div-by-zero) or hang. Closes the last junk gap:
    every catalog query now executes against a junk fixture."""
    for name in ("bpe_train_encode", "doc_compression_screen",
                 "source_overlap_estimate"):
        assert catalog.SPARK_QUERIES[name](spark, junk_sf_dir).count() >= 0


def test_embeddings_junk_pq_queries_fail_loudly(spark, junk_emb_dir):
    """The trainers (``ml.collect_sample``, used by PQ, IVF-PQ and IVF)
    REFUSE corrupt training vectors with a clear error rather than
    silently excluding them — a codebook trained on a silently shrunken
    sample would degrade recall with no signal. The rows-only PQ catalog
    queries must surface that error on junk, not hang or mis-train."""
    for name in ["pq_adc_search", "ivfpq_topk"]:
        with pytest.raises(ValueError, match="NULL vectors"):
            catalog.SPARK_QUERIES[name](spark, junk_emb_dir).count()


def test_connected_components_empty_edges(spark):
    from bytesme_etl_batch_pipeline_spark.operators.graph import connected_components

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0


def test_variant_json_on_junk_props(spark, tmp_path):
    """Malformed / non-object / NULL props through the VARIANT path: NULL
    fields + is_valid=false, never a parse error — and hash-parity with the
    DuckDB twin on the same junk."""
    import os

    from tests.oracle import compare, duckdb_con

    rows = [
        (1, '{"k": 7}'),
        (2, "not json at all"),
        (3, None),
        (4, '{"k": "not-an-int"}'),
        (5, "[1, 2, 3]"),
        (6, '{"other": 1}'),
        # non-integer k: DuckDB TRY_CAST('7.5' AS INT) would round to 8 —
        # the integer-pattern gate must make both engines yield NULL
        (7, '{"k": 7.5}'),
        (8, '{"k": true}'),
        (9, '{"k": -12}'),
    ]
    d = str(tmp_path / "junk_events_sf")
    spark.createDataFrame(rows, "event_id long, props string").write.parquet(
        os.path.join(d, "events.parquet")
    )
    out = catalog.SPARK_QUERIES["variant_json_events"](spark, d)
    got = {r["event_id"]: r for r in out.collect()}
    assert got[1]["k"] == 7 and got[1]["is_valid"]
    assert got[2]["k"] is None and not got[2]["is_valid"]
    assert got[3]["k"] is None and not got[3]["is_valid"]
    assert got[4]["k"] is None and got[4]["k_str"] == "not-an-int"
    assert got[5]["k"] is None and got[5]["is_valid"]  # valid JSON, no $.k
    assert got[6]["k"] is None and got[6]["is_valid"]
    assert got[7]["k"] is None and got[7]["k_str"] == "7.5"
    assert got[8]["k"] is None and got[8]["k_str"] == "true"
    assert got[9]["k"] == -12

    con = duckdb_con(d)
    r = compare(out, con, catalog.ORACLE_SQL["variant_json_events"])
    assert r["values_match"], r
    con.close()


@pytest.fixture(scope="module")
def junk_events_dir(spark, tmp_path_factory):
    """Events with NULL user/value/type, duplicate microseconds, and one
    lonely user — ts itself stays NON-NULL (event time is an ingest
    invariant; a NULL ts row is dropped at the landing zone, and window
    NULL-ordering defaults differ between Spark and DuckDB so no query
    should ever order by a nullable ts)."""
    import datetime

    d = str(tmp_path_factory.mktemp("junk_events"))
    t0 = datetime.datetime(2024, 1, 8, 0, 0, 0)

    def ts(**kw):
        return t0 + datetime.timedelta(**kw)

    rows = [
        (1, ts(minutes=1), 7, "signup", 10.0, None),
        (2, ts(minutes=1), 7, "signup", 10.0, None),   # same-µs duplicate
        (3, ts(minutes=2), 7, "purchase", None, None), # NULL value
        (4, ts(minutes=3), None, "purchase", 5.0, None),  # NULL user
        (5, ts(minutes=4), 7, None, 5.0, None),        # NULL type
        (6, ts(hours=2), 8, "error", 1.0, None),       # close then probe
        (7, ts(hours=3), 8, "purchase", 2.0, None),
        (8, ts(days=10), 9, "view", 0.0, None),
    ]
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(d, "events.parquet")
    )
    return d


def test_event_queries_junk_oracle_parity(spark, junk_events_dir):
    """NULL user/value/type and duplicate-µs rows must hash-match the
    DuckDB oracles for the event-query family — NULL keys group/join as
    their own class in BOTH engines, never crash, never divide by zero."""
    from tests.oracle import compare, duckdb_con

    con = duckdb_con(junk_events_dir)
    for name in EVENT_JUNK_QUERIES:
        r = compare(
            catalog.SPARK_QUERIES[name](spark, junk_events_dir),
            con,
            catalog.ORACLE_SQL[name],
        )
        assert r["values_match"], (name, r)


def test_event_and_embedding_junk_lists_are_complete():
    """Same guard as the documents/star sweeps: every oracle-paired
    events-only / embeddings-only query must be junk-swept. The streaming
    twins read events through the file-stream reader (invisible to the
    load_table parse), so they are pinned manually on top."""
    from tests.oracle import catalog_table_reads

    reads = catalog_table_reads()
    exp_events = {
        n
        for n, t in reads.items()
        if t == {"events"} and n in catalog.ORACLE_SQL
    } | {"streaming_windowed_counts", "streaming_session_counts"}
    assert exp_events == set(EVENT_JUNK_QUERIES), (
        sorted(exp_events - set(EVENT_JUNK_QUERIES)),
        sorted(set(EVENT_JUNK_QUERIES) - exp_events),
    )
    exp_emb = {
        n
        for n, t in reads.items()
        if t == {"embeddings"} and n in catalog.ORACLE_SQL
    }
    assert exp_emb == set(EMB_JUNK_QUERIES), (
        sorted(exp_emb - set(EMB_JUNK_QUERIES)),
        sorted(set(EMB_JUNK_QUERIES) - exp_emb),
    )


EMB_JUNK_QUERIES = [
    "label_centroids",
    "cosine_topk",
    "l2_topk",
    "embedding_pairs_blocked",
    "semantic_dedup_embeddings",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_quantize_int8",
    "kmeans_lloyd_step",
    "ann_recall_report",
    "bitext_margin_mining",
    "embedding_norm_outliers",
    # round-8 ANN-verify additions: corrupt vectors get NULL signatures
    # and must never surface as candidates
    "embedding_pairs_ann",
    "semantic_dedup_ann",
    "bitext_margin_ann",
]

EVENT_JUNK_QUERIES = [
        "event_burst_dedup",        # duplicate-µs rows tie-break on event_id
        "scd2_point_in_time",       # close-without-reopen resolves NULL tier
        "hourly_interpolated_values",  # NULL-value anchors interpolate to NULL
        "cusum_changepoint_scan",   # 3-day frame, zero-sum tail stays +0.0
        "dow_seasonality_index",    # NULL event_type is its own group
        "sessionization",           # NULL user partitions as its own key
        # round 4: the REST of the events-only catalog. The sweep that
        # added these caught a DIVIDE_BY_ZERO crash (anomaly_events on a
        # constant-value group) and asof_join handing NULL-key left rows a
        # phantom NULL=NULL match that SQL join semantics never make.
        "json_extract_events",
        "tolerant_json_parse",
        "conditional_rewrite",
        "multires_rollup",
        "cumulative_new_users",
        "rolling_7d_active_users",
        "dau_wau_stickiness",
        "longest_user_streaks",
        "event_transition_matrix",
        "weekly_cohort_retention",
        "lag_lead_deltas",
        "events_tumbling_window",
        "asof_join_last_purchase",
        "pivot_event_counts",
        "fill_forward_props",
        "trailing_hour_activity",
        "funnel_conversion",
        "anomaly_events",
        "next_day_retention",
        "url_canonical_dedup",
        "running_distinct_event_types",
        "purchase_attribution",
        "missing_activity_days",
        "session_funnel",
        "daily_activity_spine",
        "hour_weekday_heatmap",
        "daily_volume_anomalies",
        "cohort_ltv_matrix",
        "session_bounce_rate",
        "linear_touch_attribution",
        "weekly_engagement_segments",
        "winsorized_value_stats",
        "partition_skew_report",
        "events_hopping_window",
        "cuped_ab_adjusted_lift",
        "session_path_topk",
        # The STREAMING twins must survive the same junk through the state
        # store (watermark + session/tumbling state merge across
        # micro-batches) and still hash-match the shared batch oracle —
        # NULL user_id keys its own session/window group in streaming
        # state exactly as GROUP BY does in batch.
        "streaming_windowed_counts",
        "streaming_session_counts",
        # round 4 (completeness guard): also junk-parity VARIANT parsing
        # against the events table — its dedicated malformed-JSON test
        # uses a custom fixture, which let it escape this sweep
        "variant_json_events",
]
