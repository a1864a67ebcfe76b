"""Unit tests for Python-side operators that no SQL oracle can check:
embeddings, LLM enrichment, multimodal plumbing, pipeline runner, and the
reference-shaped edge cases from FIXTURES.md §6."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bytesme_etl_batch_pipeline_spark.operators.embed import HashEmbedder, embed_column
from bytesme_etl_batch_pipeline_spark.operators.llm import enrich_descriptions, mock_generator
from bytesme_etl_batch_pipeline_spark.operators.multimodal import (
    FakeCodec,
    RealCodec,
    decode_and_featurize,
    sample_frames,
)
from bytesme_etl_batch_pipeline_spark.operators.normalize import explode_piped_pairs
from bytesme_etl_batch_pipeline_spark.plans.pipeline import (
    STAGES,
    register_stage,
    run_pipeline,
)


# --- E2 embeddings ----------------------------------------------------------

def test_hash_embedder_deterministic_unit_norm():
    e = HashEmbedder(dim=16)
    v1, v2 = e.encode(["hello world"]), e.encode(["hello world"])
    assert v1 == v2
    norm = sum(x * x for x in v1[0]) ** 0.5
    assert abs(norm - 1.0) < 1e-5
    # empty text → zero vector (reference failure fallback)
    z = e.encode([""])[0]
    assert all(x == 0.0 for x in z)
    assert len(z) == 16


def test_embed_column_spark(spark):
    df = spark.createDataFrame(
        [(1, "spark engine"), (2, ""), (3, None)], ["id", "text"]
    )
    out = df.select("id", embed_column(F.col("text"), HashEmbedder, dim=8).alias("v")).collect()
    by_id = {r["id"]: r["v"] for r in out}
    assert len(by_id[1]) == 8
    assert all(x == 0.0 for x in by_id[2])
    assert all(x == 0.0 for x in by_id[3])  # null treated as empty


class _CountingEmbedder(HashEmbedder):
    """Appends the worker's pid to ``log`` on every construction."""

    def __init__(self, log: str, dim: int = 8):
        import os

        super().__init__(dim)
        with open(log, "a") as f:
            f.write(f"{os.getpid()}\n")


def test_embed_column_builds_one_model_per_worker(spark, tmp_path):
    """The model is cached per worker process, not rebuilt per task: three
    1-task jobs on a reused worker construct it once."""
    log = tmp_path / "constructions.txt"
    df = spark.range(1).selectExpr("'spark engine' AS text").coalesce(1)
    emb = df.select(embed_column(F.col("text"), _CountingEmbedder, log=str(log)).alias("v"))
    for _ in range(3):
        assert len(emb.collect()[0]["v"]) == 8
    pids = log.read_text().split()
    assert len(pids) == len(set(pids)), f"model rebuilt in one worker: {pids}"


# --- E5 LLM enrichment ------------------------------------------------------

def test_enrich_descriptions_gates_and_fills(spark):
    df = spark.createDataFrame(
        [(1, "widget", "has text"), (2, "gadget", ""), (3, "sprocket", None)],
        ["id", "name", "description"],
    )
    out = enrich_descriptions(df, "description", ["name"]).collect()
    by_id = {r["id"]: r["description"] for r in out}
    assert by_id[1] == "has text"
    assert by_id[2].startswith("Auto-description [")
    assert by_id[3].startswith("Auto-description [")
    # deterministic mock
    assert by_id[2] == mock_generator("Describe the product: gadget")


# --- multimodal -------------------------------------------------------------

def test_real_codec_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        RealCodec()


def test_decode_and_featurize_plumbing(spark):
    rows = [
        (1, "image", bytearray(b"imgdata"), "image/png", None, None, 0),
        (2, "video", bytearray(b"viddata"), "video/mp4", None, None, 30000),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms long"
    )
    out = {r["media_id"]: r for r in decode_and_featurize(media, feature_dim=4).collect()}
    assert out[1]["n_frames"] == 1  # images are single-frame
    assert out[2]["n_frames"] >= 1
    assert 64 <= out[1]["width"] < 256
    assert len(out[1]["features"]) == 4
    # deterministic: same payload → same features
    again = {r["media_id"]: r for r in decode_and_featurize(media, feature_dim=4).collect()}
    assert out[1]["features"] == again[1]["features"]


def test_sample_frames(spark):
    media = spark.createDataFrame(
        [(1, "video", 20000), (2, "image", 0)],
        "media_id long, kind string, duration_ms long",
    )
    out = sample_frames(media, every_n=8).collect()
    assert all(r["second"] % 8 == 0 for r in out)
    assert {r["media_id"] for r in out} == {1}  # images don't sample frames


# --- X1 explode edge cases (FIXTURES.md §6.4) -------------------------------

def test_explode_piped_pairs_fallback(spark):
    df = spark.createDataFrame(
        [
            ("p1", "http://a|http://b", "one|"),   # empty 2nd name → fallback
            ("p2", "http://c", None),               # single url, null names
            ("p3", "http://d|http://e", "x|y"),
        ],
        ["pname", "urls", "names"],
    )
    out = explode_piped_pairs(df, "urls", "names", "pname").collect()
    got = {(r["item_url"], r["item_name"]) for r in out}
    assert ("http://a", "one") in got
    assert ("http://b", "p1") in got    # fallback to product name
    assert ("http://c", "p2") in got
    assert ("http://d", "x") in got and ("http://e", "y") in got
    assert len(out) == 5


# --- pipeline runner --------------------------------------------------------

def test_run_pipeline_isolation_and_report(spark):
    @register_stage("double_value")
    def double_value(df):
        return df.withColumn("v", F.col("v") * 2)

    @register_stage("boom")
    def boom(df):
        raise RuntimeError("stage exploded")

    ok = spark.createDataFrame([(1,), (2,)], ["v"])
    outputs, report = run_pipeline({"good": ok}, ["double_value"])
    assert report.summary() == {"total": 1, "success": 1, "error": 0}
    assert sorted(r["v"] for r in outputs["good"].collect()) == [2, 4]

    _, report2 = run_pipeline({"good": ok, "bad": ok}, ["boom"])
    assert report2.n_error == 2  # both inputs hit the bad stage, isolated
    _, report3 = run_pipeline({"a": ok}, ["nope"])
    assert report3.results[0].status == "error"
    assert "unknown stage" in report3.results[0].error


def test_run_pipeline_materialization_barriers(spark):
    """The built-in checkpoint barrier stage is the pipeline author's
    declared CPU-vs-storage tradeoff: an expensive stage followed by a
    barrier executes ONCE even when its output feeds multiple downstream
    actions; without the barrier every action replays it."""
    sc = spark.sparkContext
    with_acc = sc.accumulator(0)
    without_acc = sc.accumulator(0)

    def counting_stage(acc):
        def stage(df):
            def tick(batches):
                for pdf in batches:
                    acc.add(len(pdf))
                    yield pdf

            return df.mapInPandas(tick, schema=df.schema)

        return stage

    STAGES["count_with"] = counting_stage(with_acc)
    STAGES["count_without"] = counting_stage(without_acc)
    try:
        src = spark.createDataFrame([(i,) for i in range(10)], ["v"]).coalesce(1)
        outputs, report = run_pipeline({"a": src}, ["count_with", "checkpoint"])
        assert report.n_success == 1
        # run_pipeline's own count() already executed the plan once
        # (checkpoint is eager, so exactly once); two more actions must
        # NOT re-run the counted stage
        outputs["a"].count()
        outputs["a"].count()
        assert with_acc.value == 10

        outputs2, _ = run_pipeline({"a": src}, ["count_without"])
        outputs2["a"].count()
        outputs2["a"].count()
        assert without_acc.value == 30  # replayed per action — the contrast
        report.free_barriers(spark)
    finally:
        STAGES.pop("count_with", None)
        STAGES.pop("count_without", None)


def test_final_checkpoint_counts_rows_in_its_own_job(spark):
    """When ``checkpoint`` is the last stage, ``rows_out`` comes from an
    Observation on the checkpoint's job: two jobs fewer per input than
    the same stages followed by a pass-through, whose ``rows_out`` needs a
    separate count, and the same row count."""
    sc = spark.sparkContext
    STAGES["even_only"] = lambda df: df.where(F.col("v") % 2 == 0)
    STAGES["pass_through"] = lambda df: df

    def jobs_and_rows(stages, group):
        src = spark.createDataFrame([(i,) for i in range(25)], ["v"])
        sc.setJobGroup(group, group)
        try:
            _, report = run_pipeline({"a": src}, stages)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        report.free_barriers(spark)
        assert report.n_success == 1, report.results
        return len(sc.statusTracker().getJobIdsForGroup(group)), report.results[0].rows_out

    try:
        last = jobs_and_rows(["even_only", "checkpoint"], "ckpt_last")
        counted = jobs_and_rows(["even_only", "checkpoint", "pass_through"], "ckpt_then_count")
    finally:
        STAGES.pop("even_only", None)
        STAGES.pop("pass_through", None)
    assert last[1] == counted[1] == 13
    assert last[0] == counted[0] - 2


def test_run_pipeline_on_error_hook(spark):
    """The injectable alert hook (the reference's webhook-on-error twin)
    fires once per failed input, and a notifier that itself raises never
    masks the pipeline's own error accounting."""
    @register_stage("boom2")
    def boom2(df):
        raise RuntimeError("kaboom")

    ok = spark.createDataFrame([(1,)], ["v"])
    alerts = []
    _, report = run_pipeline(
        {"x": ok, "y": ok}, ["boom2"], on_error=lambda n, m: alerts.append((n, m))
    )
    assert report.n_error == 2
    assert sorted(n for n, _ in alerts) == ["x", "y"]
    assert all("kaboom" in m for _, m in alerts)

    def bad_notifier(n, m):
        raise OSError("webhook down")

    _, report2 = run_pipeline({"x": ok}, ["boom2"], on_error=bad_notifier)
    assert report2.n_error == 1  # alerting failure swallowed, error recorded


def test_run_pipeline_error_names_the_stage(spark):
    """An error message starts with the stage being applied, or with the
    action (checkpoint / count) when the failure only surfaced once the
    plan ran — the record and the alert hook carry the same message."""
    @register_stage("select_missing")
    def select_missing(df):
        return df.select("no_such_column")

    @register_stage("fail_at_run")
    def fail_at_run(df):
        return df.filter(F.raise_error(F.lit("bad row")).isNull())

    ok = spark.createDataFrame([(1,)], ["v"])
    alerts = []
    _, report = run_pipeline(
        {"x": ok}, ["select_missing"], on_error=lambda n, m: alerts.append((n, m))
    )
    err = report.results[0].error
    assert err.startswith("stage 'select_missing': ") and "no_such_column" in err
    assert alerts == [("x", err)]

    _, report = run_pipeline({"x": ok}, ["fail_at_run"])
    assert report.results[0].error.startswith("count: ")
    _, report = run_pipeline({"x": ok}, ["fail_at_run", "checkpoint"])
    assert report.results[0].error.startswith("checkpoint: ")


# --- near-dup semantics on planted duplicates --------------------------------

def test_minhash_lsh_finds_planted_neardups(spark):
    """Plant a near-identical pair and an unrelated doc: LSH candidates must
    contain the planted pair and the verify stage must rank it above noise."""
    from bytesme_etl_batch_pipeline_spark.operators.neardup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")          # 1-word edit → high overlap
    other = "completely different content about spark shuffles and parquet files"
    df = spark.createDataFrame(
        [(1, base, "s"), (2, near, "s"), (3, other, "s")], ["doc_id", "text", "source"]
    )
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(df, "doc_id", "text", num_hashes=8, bands=4, shingle_n=2).collect()
    }
    assert (1, 2) in cands
    assert (1, 3) not in cands and (2, 3) not in cands

    verified = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", "source", n=2, threshold=0.3).collect()
    }
    assert (1, 2) in verified and verified[(1, 2)] > 0.6
    assert (1, 3) not in verified


def test_exact_dedup_keeps_lowest_id(spark):
    from bytesme_etl_batch_pipeline_spark.operators.neardup import exact_dedup_by_content

    df = spark.createDataFrame(
        [(5, "Same Text"), (2, "  same text "), (9, "unique")], ["doc_id", "text"]
    )
    kept = sorted(r["doc_id"] for r in exact_dedup_by_content(df, "text", "doc_id").collect())
    assert kept == [2, 9]  # normalization (trim+lower) unifies, lowest id wins


def test_exact_dedup_semi_join_shape_and_null_group(spark):
    """r10 optimization contract: the survivor join-back is a LEFT SEMI on
    the bare id (probe side computes NO digest, narrower shuffle keys);
    NULL-text rows still form their own content class; survivors keep the
    full row with the original column order."""
    from bytesme_etl_batch_pipeline_spark.operators.neardup import exact_dedup_by_content

    df = spark.createDataFrame(
        [
            (7, "dup", "a"),
            (3, "dup", "b"),
            (4, None, "c"),
            (6, None, "d"),
            (1, "solo", "e"),
        ],
        ["doc_id", "text", "tag"],
    )
    out = exact_dedup_by_content(df, "text", "doc_id")
    rows = {r["doc_id"]: r["tag"] for r in out.collect()}
    # NULLs are ONE dedup group (sentinel digest), lowest id survives
    assert rows == {3: "b", 4: "c", 1: "e"}
    assert out.columns == ["doc_id", "text", "tag"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    # exactly one md5 evaluation site (the survivor-id aggregate); the
    # probe side must not recompute the digest. Assert on the optimized
    # LOGICAL plan — the physical string prints an expression once per AQE
    # stage section, so site-counting there is presentation-dependent.
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    # count the FUNCTION APPLICATION, not the bare substring (ADVICE r10:
    # a future column/alias merely named *md5* must not break the
    # single-evaluation-site check)
    assert logical.count("md5(") == 1, logical


def test_simhash_close_texts_close_hashes(spark):
    from bytesme_etl_batch_pipeline_spark.operators.textops import simhash

    base = "spark makes large scale data processing simple and fast for everyone"
    near = base.replace("fast", "quick")
    far = "unrelated words entirely about cooking pasta with garlic and olive oil"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    sh = {r["doc_id"]: r["simhash"] for r in simhash(df, "text", ["doc_id"]).collect()}
    ham_near = bin(sh[1] ^ sh[2]).count("1")
    ham_far = bin(sh[1] ^ sh[3]).count("1")
    assert ham_near < ham_far


def test_collapse_first_wins_nonorderable_attrs(spark):
    """Attrs of any type (maps) must work — only the order struct is ordered."""
    from bytesme_etl_batch_pipeline_spark.operators.aggregate import collapse_first_wins

    df = spark.createDataFrame(
        [("k1", 2, {"a": "2"}), ("k1", 1, {"a": "1"}), ("k2", 5, {"b": "5"})],
        "k string, ts int, props map<string,string>",
    )
    out = {r["k"]: r["props"] for r in collapse_first_wins(df, "k", ["props"], ["ts"]).collect()}
    assert out == {"k1": {"a": "1"}, "k2": {"b": "5"}}


def test_word_ngrams_short_text_empty(spark):
    """Regression: sequence(1,0) is descending in Spark — short texts must
    yield empty shingle sets, not bogus partial grams."""
    from bytesme_etl_batch_pipeline_spark.operators.neardup import minhash_signatures

    df = spark.createDataFrame([(1, "one"), (2, "a b c d")], ["doc_id", "text"])
    sig = minhash_signatures(df, "doc_id", "text", num_hashes=2, shingle_n=3)
    by_doc = {}
    for r in sig.collect():
        by_doc.setdefault(r["doc_id"], []).append(r["minhash"])
    assert 1 not in by_doc          # too short for trigrams → no signature
    assert len(by_doc[2]) == 2      # one minhash per seed


# --- scale utilities: incremental dedup, compaction --------------------------

def test_incremental_dedup_across_batches(spark):
    from bytesme_etl_batch_pipeline_spark.operators.dedup import incremental_dedup

    b1 = spark.createDataFrame([(1, "alpha"), (2, "beta"), (3, "alpha")], ["id", "text"])
    fresh1, seen1 = incremental_dedup(b1, None, "text")
    assert sorted(r["text"] for r in fresh1.collect()) == ["alpha", "beta"]
    assert seen1.count() == 2

    b2 = spark.createDataFrame([(4, "beta"), (5, "gamma"), (6, None)], "id long, text string")
    fresh2, seen2 = incremental_dedup(b2, seen1, "text")
    got = sorted((r["id"], r["text"]) for r in fresh2.collect())
    assert got == [(5, "gamma"), (6, None)]   # beta seen in batch 1; NULL is new content
    assert seen2.count() == 4                  # alpha, beta, gamma, __NULL__

    b3 = spark.createDataFrame([(7, None)], "id long, text string")
    fresh3, _ = incremental_dedup(b3, seen2, "text")
    assert fresh3.count() == 0                 # NULL content now seen


def test_compact_parquet(spark, tmp_path):
    from bytesme_etl_batch_pipeline_spark.sources.files import compact_parquet

    src = str(tmp_path / "fragmented")
    spark.range(10_000).repartition(64).write.parquet(src)
    import glob
    assert len(glob.glob(f"{src}/*.parquet")) == 64

    dst = str(tmp_path / "compacted")
    n_files = compact_parquet(spark, src, dst, target_file_mb=128)
    assert n_files == 1
    assert spark.read.parquet(dst).count() == 10_000


def test_quality_features_empty_and_whitespace_docs(spark):
    """ANSI-mode junk-input contract: empty/whitespace-only docs must not
    raise DIVIDE_BY_ZERO; per-word ratios are NULL and score is 0.0."""
    from bytesme_etl_batch_pipeline_spark.operators.textops import quality_features

    df = spark.createDataFrame(
        [(1, ""), (2, "   \t\n "), (3, "the quick fox.")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in quality_features(df, "text", ["doc_id"]).collect()}

    empty = rows[1]
    assert empty["n_chars"] == 0 and empty["n_words"] == 0
    assert empty["avg_word_len"] is None
    assert empty["punct_ratio"] is None
    assert empty["stop_ratio"] is None
    assert empty["quality_score"] == 0.0

    ws_only = rows[2]
    assert ws_only["n_words"] == 0 and ws_only["n_chars"] > 0
    assert ws_only["avg_word_len"] is None
    assert ws_only["punct_ratio"] == 0.0  # chars exist, none are punctuation
    assert ws_only["quality_score"] == 0.0

    normal = rows[3]
    assert normal["n_words"] == 3
    assert normal["quality_score"] is not None and normal["quality_score"] > 0


def test_connected_components_known_graph(spark):
    """Two chains + a triangle: labels must collapse to the min member of
    each component, including multi-hop propagation (chain diameter 3)."""
    from bytesme_etl_batch_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        # component A: chain 1-2-3-4 (diameter 3); component B: triangle
        # 10-11-12; component C: pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["src", "dst"],
    )
    cc = {r["node"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_nonconvergence_raises(spark):
    """A long chain must exceed a tiny max_iter and raise, not mislabel."""
    import pytest

    from bytesme_etl_batch_pipeline_spark.operators.graph import (
        ConvergenceError,
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["src", "dst"]
    )
    # the dedicated type, not a bare RuntimeError: the auto variant's
    # escalation catch is scoped to ConvergenceError only, so unrelated
    # runtime failures surface instead of triggering a silent star re-run
    with pytest.raises(ConvergenceError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_cosine_zero_vector_is_null_not_nan(spark):
    """Zero-norm vectors (the embedder's empty-text output) must yield NULL
    cosine — NaN would pass >= filters and sort FIRST in descending top-k,
    filling near-dup pair lists and search results with junk."""
    from pyspark.sql import functions as F

    from bytesme_etl_batch_pipeline_spark.operators.similarity import (
        pairs_above_threshold,
        topk_brute_force,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [0.0, 0.0], 0),  # zero vector, same block
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    pairs = pairs_above_threshold(df, "vec_id", "embedding", "label", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, 1)}  # no pair involving the zero vector

    query = df.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    top = topk_brute_force(df, query, k=3, id_col="vec_id").collect()
    assert [r["vec_id"] for r in top][:2] == [0, 1]  # zero vector not first
    assert top[-1]["score"] is None


def test_connected_components_string_node_ids(spark):
    """Non-numeric ids (doc URLs/keys) must converge via the diff-join
    path — a decimal-sum metric would crash under ANSI or silently stop
    after one round with wrong clusters."""
    from bytesme_etl_batch_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"]
    )
    cc = {r["node"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert cc == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_snowflake_split_keeps_null_dim_key_rows(spark):
    """An uncategorized (NULL dim_key) wide row must survive into facts
    with a NULL FK, not silently vanish through an inner join."""
    from bytesme_etl_batch_pipeline_spark.operators.normalize import snowflake_split

    wide = spark.createDataFrame(
        [("Cake", "b1", "u1", "http://i/1", "n1"),
         (None, "b2", "u2", "http://i/2", "n2")],
        "category_name string, product_brand string, product_url string, "
        "product_image string, product_image_name string",
    )
    out = snowflake_split(
        wide,
        dim_key="category_name",
        dim_attrs=["product_brand"],
        fact_key="product_url",
        child_url_col="product_image",
        child_name_col="product_image_name",
        order_by=["product_url"],
    )
    facts = {r["product_url"]: r["category_name"] for r in out.facts.collect()}
    assert set(facts) == {"u1", "u2"}
    assert facts["u2"] is None


def test_decontaminate_overlap_planted(spark):
    """A train doc containing a verbatim eval passage is flagged with the
    exact distinct-5-gram overlap count; clean docs and sub-n docs are not.
    The eval side must reach the shingle join as a broadcast (benchmark
    data is tiny — the corpus side must never shuffle on shingles)."""
    from bytesme_etl_batch_pipeline_spark.operators.neardup import (
        decontaminate_overlap,
    )

    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # contains the full eval text → every eval 5-gram (5 of them)
            (1, "intro words the quick brown fox jumps over the lazy dog outro"),
            (2, "completely unrelated text about bánh mì and coffee beans here"),
            (3, "quick brown fox"),  # < 5 words → no shingles at all
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = decontaminate_overlap(train, eval_df, "doc_id", "text", n=5)
    got = {r["doc_id"]: (r["n_overlap"], r["contaminated"]) for r in out.collect()}
    assert got == {1: (5, True), 2: (0, False), 3: (0, False), 4: (0, False)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_temperature_mix_flattens_sources(spark):
    """A giant source is downsampled at coefficient/sqrt(n) while a small
    source is kept whole, and the same rows survive on every run (hash-of-
    key, not a sampler)."""
    from pyspark.sql import functions as F

    from bytesme_etl_batch_pipeline_spark.operators.sampling import temperature_mix

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "tiny") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mix(df, "doc_id", "source", coefficient=2.0, seed="mix")
    got = out.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept"), F.first("rate").alias("rate")
    )
    by_src = {r["source"]: r for r in got.collect()}
    assert by_src["tiny"]["kept"] == 4 and by_src["tiny"]["rate"] == 1.0
    assert by_src["big"]["rate"] == 2.0 / 20.0
    assert 0 < by_src["big"]["kept"] < 400
    rerun = temperature_mix(df, "doc_id", "source", coefficient=2.0, seed="mix")
    assert sorted(r["doc_id"] for r in rerun.collect()) == sorted(
        r["doc_id"] for r in out.collect()
    )


def test_connected_components_random_graphs_vs_union_find(spark):
    """CC on seeded random graphs must equal a driver-side union-find
    ground truth (min-member labeling), including singleton-free node sets
    and multi-component shapes the tiny fixtures miss."""
    import random

    from bytesme_etl_batch_pipeline_spark.operators.graph import connected_components

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = rng.randint(8, 28)
        edges = [
            (rng.randint(0, n), rng.randint(0, n))
            for _ in range(rng.randint(4, 2 * n))
        ]
        parent = list(range(n + 1))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        nodes = {x for e in edges for x in e}
        expected = {}
        for x in nodes:
            root = find(x)
            expected.setdefault(root, []).append(x)
        want = {
            x: min(members)
            for members in expected.values()
            for x in members
        }
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(df).collect()
        }
        assert got == want, f"seed={seed}"

def test_semantic_dedup_keeps_lowest_id_per_neardup_group(spark):
    """SemDedup decision: within a block, every cosine-near-dup group
    survives only through its lowest id; cross-block near-identical
    vectors are untouched (blocking is the scale contract)."""
    from pyspark.sql import functions as F

    from bytesme_etl_batch_pipeline_spark.operators.neardup import neardup_filter
    from bytesme_etl_batch_pipeline_spark.operators.similarity import (
        pairs_above_threshold,
    )

    rows = [
        (0, [1.0, 0.0], 0),   # keeper of group {0,1}
        (1, [0.99, 0.01], 0),  # near-dup of 0 → removed
        (2, [0.0, 1.0], 0),   # orthogonal → survives
        (3, [1.0, 0.0], 1),   # identical to 0 but other block → survives
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    pairs = pairs_above_threshold(
        df, "vec_id", "embedding", "label", threshold=0.95
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    survivors = {r["vec_id"] for r in neardup_filter(df, pairs, "vec_id").collect()}
    assert survivors == {0, 2, 3}


def test_pair_salt_is_capped_at_default_parallelism(spark):
    """With ``spark.sql.shuffle.partitions`` above the core count, the
    build side of ``pairs_above_threshold`` replicates only
    ``defaultParallelism`` ways (a salt past the cores adds copies but no
    parallel task), and the pair set still equals brute-force blocked
    cosine."""
    import math
    import random
    import re

    from bytesme_etl_batch_pipeline_spark.operators.similarity import (
        pairs_above_threshold,
    )

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(4)], i % 3) for i in range(60)
    ]
    thr = 0.8

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    want = {}
    for ia, va, ba in rows:
        for ib, vb, bb in rows:
            if ba == bb and ia < ib:
                c = cos(va, vb)
                assert abs(c - thr) > 1e-5  # no pair sits on the rounding edge
                if c >= thr:
                    want[(ia, ib)] = c
    assert len(want) > 10

    cores = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(cores + 5))
    try:
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        )
        pairs = pairs_above_threshold(df, "vec_id", "embedding", "label", threshold=thr)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        got = {(r["id_a"], r["id_b"]): r["cosine"] for r in pairs.collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

    # each build-side row explodes into one copy per salt value
    salts = re.findall(r"explode\(\[([\d,]+)\]\)", plan)
    assert salts == [",".join(map(str, range(cores)))], plan
    assert set(got) == set(want)
    assert all(abs(got[p] - want[p]) <= 1e-6 for p in want)

def test_star_cc_matches_propagation_and_union_find(spark):
    """Large-star/small-star CC must agree with union-find ground truth on
    random self-loop-free graphs (the star variant drops self-loops by
    contract)."""
    import random

    from bytesme_etl_batch_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    for seed in (5, 41):
        rng = random.Random(seed)
        n = rng.randint(8, 24)
        edges = []
        while len(edges) < rng.randint(4, 2 * n):
            a, b = rng.randint(0, n), rng.randint(0, n)
            if a != b:
                edges.append((a, b))
        parent = list(range(n + 1))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        nodes = {x for e in edges for x in e}
        want = {}
        groups = {}
        for x in nodes:
            groups.setdefault(find(x), []).append(x)
        for members in groups.values():
            m = min(members)
            for x in members:
                want[x] = m
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components_star(df).collect()
        }
        assert got == want, f"seed={seed}"


def test_star_cc_handles_high_diameter_chain(spark):
    """A 40-node path has diameter 40 — min-label propagation at its default
    budget would need 40 rounds, star contraction a handful. This is the
    pathological case the star variant exists for."""
    from bytesme_etl_batch_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    labels = connected_components_star(chain, max_iter=10).collect()
    assert len(labels) == 41
    assert {r["cluster_id"] for r in labels} == {0}


def test_star_cc_empty_edges(spark):
    from bytesme_etl_batch_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components_star(empty).count() == 0


def test_ahash64_and_phash_perceptual_grouping(spark):
    """aHash semantics + end-to-end perceptual grouping: a one-pixel edit
    on a raw 8x8 grid keeps Hamming small and the pair is found by the
    banded blocker; an unrelated image is not paired."""
    from bytesme_etl_batch_pipeline_spark.operators.multimodal import (
        ahash64,
        phash_media,
    )
    from bytesme_etl_batch_pipeline_spark.operators.neardup import (
        hamming_pairs_banded,
    )

    # half-dark half-bright grid: exactly the bright 32 bits set
    grid = [10] * 32 + [200] * 32
    h = ahash64(grid)
    assert bin(h).count("1") == 32 and h >> 32 == 0xFFFFFFFF

    base = bytes(grid)
    near = bytes([10] * 31 + [60] + [200] * 32)  # one edited pixel
    far = bytes([0, 255] * 32)  # alternating → Hamming 32 from base
    rows = [(1, "image", base), (2, "image", near), (3, "image", far)]
    media = spark.createDataFrame(rows, "media_id long, kind string, payload binary")
    ph = phash_media(media)
    pairs = hamming_pairs_banded(ph, "media_id", "phash", max_hamming=3).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    assert all(r.hamming <= 3 for r in pairs)


def test_hamming_pairs_banded_matches_bruteforce(spark):
    """Pigeonhole completeness: banded blocking finds EXACTLY the
    brute-force pair set for any hash population, including sign-bit
    (bit 63) differences."""
    import itertools
    import random

    rng = random.Random(7)
    hashes = []
    base = rng.getrandbits(64)
    for i in range(30):
        h = base
        for _ in range(rng.randrange(0, 6)):  # 0-5 flipped bits
            h ^= 1 << rng.randrange(64)
        hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
    rows = [(i, h) for i, h in enumerate(hashes)]
    df = spark.createDataFrame(rows, "id long, h long")
    got = {
        (r.id_a, r.id_b)
        for r in hamming_pairs_banded_import(df).collect()
    }
    want = {
        (a, b)
        for (a, ha), (b, hb) in itertools.combinations(rows, 2)
        if bin((ha ^ hb) & ((1 << 64) - 1)).count("1") <= 3
    }
    assert got == want


def hamming_pairs_banded_import(df):
    from bytesme_etl_batch_pipeline_spark.operators.neardup import (
        hamming_pairs_banded,
    )

    return hamming_pairs_banded(df, "id", "h", max_hamming=3)


def test_phash_media_id_col_contract(spark):
    """The caller's id column name, type AND nullability flow through to
    the output (ADVICE r3), and the hashes do not depend on its name."""
    from bytesme_etl_batch_pipeline_spark.operators.multimodal import phash_media

    rows = [(i, "image", f"payload-{i}".encode()) for i in range(40)]
    media = spark.createDataFrame(rows, "media_id long, kind string, payload binary")
    by_id = {r.media_id: r.phash for r in phash_media(media).collect()}
    assert len(by_id) == 40
    named = media.withColumnRenamed("media_id", "doc_key").withColumn(
        "doc_key", F.col("doc_key").cast("string")
    )
    out = phash_media(named, id_col="doc_key")
    assert out.columns == ["doc_key", "phash"]
    assert dict(out.dtypes)["doc_key"] == "string"
    assert out.schema["doc_key"].nullable == named.schema["doc_key"].nullable
    strict = spark.createDataFrame(
        rows, "media_id long NOT NULL, kind string, payload binary"
    )
    assert not phash_media(strict).schema["media_id"].nullable
    assert {r.doc_key: r.phash for r in out.collect()} == {
        str(k): v for k, v in by_id.items()
    }


def test_incremental_rollup_equals_one_shot(spark, tmp_path):
    """Folding a feed in as N delta batches must produce bit-identical
    state to aggregating everything at once (decimal sums are exact and
    associative), and the count/min/max lattice merges correctly."""
    from bytesme_etl_batch_pipeline_spark.operators.aggregate import (
        incremental_rollup,
    )

    rows = [
        (i % 7, float(i) * 1.25 + 0.1, i % 13) for i in range(500)
    ]
    schema = "k long, v double, m long"
    full = spark.createDataFrame(rows, schema)
    state = str(tmp_path / "state")
    for lo in range(0, 500, 125):  # four delta batches
        delta = spark.createDataFrame(rows[lo : lo + 125], schema)
        out = incremental_rollup(
            spark, state, delta, ["k"],
            sum_cols=["v"], min_cols=["m"], max_cols=["m"],
        )
    oneshot = incremental_rollup(
        spark, str(tmp_path / "state2"), full, ["k"],
        sum_cols=["v"], min_cols=["m"], max_cols=["m"],
    )
    a = {tuple(r) for r in out.collect()}
    b = {tuple(r) for r in oneshot.collect()}
    assert a == b and len(a) == 7
    # derived AVG from the state is exact
    r0 = {r.k: (r.sum_v, r.n_rows) for r in out.collect()}
    import decimal
    want = {}
    for k, v, _ in rows:
        s, n = want.get(k, (decimal.Decimal(0), 0))
        want[k] = (s + decimal.Decimal(str(round(v, 4))), n + 1)
    for k, (s, n) in want.items():
        assert r0[k][1] == n
        assert abs(decimal.Decimal(r0[k][0]) - s) <= decimal.Decimal("0.01") * n


def test_connected_components_variants_agree_on_junk_edges(spark):
    """NULL-endpoint edges and self-loops must be normalized away by BOTH
    variants identically — otherwise switching variants silently changes
    the result shape (propagation used to emit a NULL node labeled by its
    neighbors, plus self-loop-only singletons)."""
    from bytesme_etl_batch_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (3, 3), (None, 5), (6, None), (None, None)],
        "src long, dst long",
    )
    want = {(1, 1), (2, 1)}
    for fn in (connected_components, connected_components_star):
        got = {(r.node, r.cluster_id) for r in fn(edges).collect()}
        assert got == want, fn.__name__


def test_run_pipeline_checkpoint_barriers_do_not_leak(spark):
    """A barrier's blocks stay pinned until released (DataFrame.unpersist
    is a no-op on them — ckpt.py), so the runner releases them: a later
    barrier frees the superseded one, the final barrier is kept in the
    report, and free_barriers releases it once the caller is done with
    the outputs."""
    sc = spark.sparkContext
    STAGES["noop_a"] = lambda df: df.withColumn("v2", F.col("v") + 1)
    STAGES["noop_b"] = lambda df: df.withColumn("v3", F.col("v") + 2)
    try:
        src = spark.createDataFrame([(i,) for i in range(10)], ["v"])
        before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        outputs, report = run_pipeline(
            {"a": src}, ["noop_a", "checkpoint", "noop_b", "checkpoint"]
        )
        assert report.n_success == 1
        assert outputs["a"].count() == 10
        mid = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        # exactly the FINAL barrier's blocks remain (the first was
        # superseded and freed inside the run)
        final = report.barriers["a"]._jdf.queryExecution().analyzed().rdd().id()
        assert mid - before == {final}

        report.free_barriers(spark)
        after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        assert after - before == set(), "free_barriers must release all blocks"
        assert report.barriers == {}
    finally:
        STAGES.pop("noop_a", None)
        STAGES.pop("noop_b", None)


def test_run_pipeline_checkpoint_freed_on_stage_error(spark):
    """An input that fails AFTER a checkpoint barrier returns no output —
    its pinned blocks must be freed on the error path, not leaked."""
    sc = spark.sparkContext

    @register_stage("boom3")
    def boom3(df):
        raise RuntimeError("post-barrier failure")

    try:
        src = spark.createDataFrame([(i,) for i in range(5)], ["v"])
        before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        outputs, report = run_pipeline({"a": src}, ["checkpoint", "boom3"])
        assert report.n_error == 1
        assert "a" not in outputs
        after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        assert after - before == set()
        assert report.barriers == {}
    finally:
        STAGES.pop("boom3", None)


def test_star_cc_nonconvergence_frees_checkpoint_blocks(spark):
    """The ConvergenceError path returns no DataFrame, so the last round's
    localCheckpoint blocks must be freed — the auto variant catches this
    exception and keeps the session running (one leaked edge-table copy
    per failed attempt would accumulate for the app lifetime)."""
    import pytest as _pytest

    from bytesme_etl_batch_pipeline_spark.operators.graph import (
        ConvergenceError,
        connected_components_star,
    )

    sc = spark.sparkContext
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["src", "dst"]
    )
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    with _pytest.raises(ConvergenceError, match="did not converge"):
        connected_components_star(chain, max_iter=1)
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set(), "error path must not pin blocks"


def test_ivf_assign_pandas_null_element_matches_expression_twin(spark):
    """A NULL vector ELEMENT arrives in the Arrow path (``ivf_assign``) as
    NaN; argmin over an all-NaN distance row would return cell 0 — a
    garbage assignment that silently diverges from the Spark expression
    fold, which gates the corrupt vector to a NULL cell. Both must agree."""
    from bytesme_etl_batch_pipeline_spark.functions.arrays import lit_doubles
    from bytesme_etl_batch_pipeline_spark.operators.similarity import ivf_assign

    vecs = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.1, None]), (3, None), (4, [5.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    cents = [[0.0, 0.0], [5.0, 5.0]]
    v = F.col("embedding")
    pairs = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(v, lit_doubles(c), lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, c in enumerate(cents)
        ]
    )
    corrupt = F.coalesce(F.exists(v, lambda x: x.isNull()), F.lit(True)) | (
        F.size(v) != len(cents[0])
    )
    expr_cells = {
        r["vec_id"]: r["cell"]
        for r in vecs.select(
            "vec_id", F.when(~corrupt, F.array_min(pairs)["i"]).alias("cell")
        ).collect()
    }
    arrow_cells = {
        r["vec_id"]: r["cell"] for r in ivf_assign(vecs, cents).collect()
    }
    assert expr_cells == arrow_cells == {1: 0, 2: None, 3: None, 4: 1}


def test_salted_count_handles_unhashable_columns(spark):
    """The salt derives from monotonically_increasing_id alone — hashing
    the content columns added nothing (the id is unique per row) and threw
    on MapType columns (xxhash64 rejects them)."""
    from bytesme_etl_batch_pipeline_spark.operators.aggregate import salted_count

    df = spark.createDataFrame(
        [("a", {"k": 1}), ("a", {"k": 2}), ("b", {"k": 3})],
        "key string, props map<string,int>",
    )
    got = {r["key"]: r["n"] for r in salted_count(df, ["key"]).collect()}
    assert got == {"a": 2, "b": 1}


def test_rule_cascade_tier3_matches_uppercase_unicode_variants(spark):
    """Tier 3 lowercases the variants like tier 2 does the raw values: the
    name side is F.lower()'d with full Unicode folding, and (?i) alone is
    ASCII-only — a variant like 'Trà Đào' could otherwise never match."""
    from bytesme_etl_batch_pipeline_spark.operators.categorize import (
        standardize_categories,
    )

    df = spark.createDataFrame(
        [("Trà đào cam sả", "unknown"), ("bánh kem", "unknown")],
        "name string, raw string",
    )
    got = {
        r["name"]: r["category_name"]
        for r in standardize_categories(
            df, "name", "raw", [("Tea", ["Trà Đào"])], default="Others"
        ).collect()
    }
    assert got == {"Trà đào cam sả": "Tea", "bánh kem": "Others"}


def test_scd2_null_op_is_upsert_not_silent_delete(spark):
    """A corrupt/unknown (NULL) op must surface as an upsert version, not
    be three-valued-logic'd into a silent delete that vanishes the
    payload."""
    from bytesme_etl_batch_pipeline_spark.operators.cdc import scd2_history

    changes = spark.createDataFrame(
        [(1, 1, "I", "A"), (1, 5, None, "B"), (2, 2, "I", "X"), (2, 7, "D", None)],
        "k long, seq long, op string, payload string",
    )
    rows = {
        (r["k"], r["valid_from"]): (r["payload"], r["valid_to"], r["is_current"])
        for r in scd2_history(changes, "k", "seq", ["payload"]).collect()
    }
    # k=1: version A closed at 5, version B (NULL op) current
    assert rows[(1, 1)] == ("A", 5, False)
    assert rows[(1, 5)] == ("B", None, True)
    # k=2: real delete still ends history with no current row
    assert rows[(2, 2)] == ("X", 7, False)
    assert (2, 7) not in rows


def test_boilerplate_removal_null_source_keeps_text(spark):
    """NULL-source docs group together in the frequency pass (groupBy
    semantics), so the join-back must be null-safe — a plain join wiped
    their text to '' while reporting n_kept=0 AND n_dropped=0."""
    from bytesme_etl_batch_pipeline_spark.operators.neardup import (
        boilerplate_removal,
    )

    docs = spark.createDataFrame(
        [
            (1, None, "unique words here only once ever written now yes"),
            (2, "s1", "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, source string, text string",
    )
    got = {r["doc_id"]: r for r in boilerplate_removal(docs).collect()}
    # 9 words -> 2 segments, both unique: kept in full, nothing dropped
    assert got[1]["n_kept"] == 2 and got[1]["n_dropped"] == 0
    assert got[1]["clean_text"].startswith("unique words")
    assert got[2]["n_kept"] == 1


def test_blocked_shingle_commons_matches_string_join(spark):
    """r11 rewrite guard: the one-pass hashed-shingle machinery must emit
    the same pair counts and sizes as the naive string self-join on mixed
    input (dups, near-dups, empty text, NULL text, short docs)."""
    from bytesme_etl_batch_pipeline_spark.operators.neardup import (
        _shingle_rows,
        blocked_shingle_commons,
    )

    rows = [
        (1, "s1", "the quick brown fox jumps over the lazy dog"),
        (2, "s1", "the quick brown fox jumps over a lazy dog"),
        (3, "s1", "completely different text body here now"),
        (4, "s2", "the quick brown fox jumps over the lazy dog"),
        (5, "s1", ""),
        (6, "s1", None),
        (7, "s1", "one"),
        (8, "s1", "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sizes, common = blocked_shingle_commons(df, "doc_id", "text", "source", 2)
    got_sizes = {r.doc_id: r["__sz"] for r in sizes.collect()}
    got_common = {(r.doc_a, r.doc_b): r.n_common for r in common.collect()}

    sh = _shingle_rows(df, "doc_id", "text", 2, extra=["source"])
    want_sizes = {
        r.doc_id: r.sz
        for r in sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz")).collect()
    }
    a = sh.select("source", F.col("doc_id").alias("doc_a"), "__shingle")
    b = sh.select("source", F.col("doc_id").alias("doc_b"), "__shingle")
    want_common = {
        (r.doc_a, r.doc_b): r.n_common
        for r in (
            a.join(b, ["source", "__shingle"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        ).collect()
    }
    assert got_sizes == want_sizes
    assert got_common == want_common
    # docs 1/8 are exact dups in one block; 4 is blocked away from them
    assert got_common[(1, 8)] == got_sizes[1]
    assert (1, 4) not in got_common
