"""Scalar-function edge cases: the three-shape unit-price parser (SURVEY §7
hard part 3 — apostrophe-safe quote normalization), truncation, price
cleaning; plus approx-distinct error bounds and embed→search end-to-end."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from bytesme_etl_batch_pipeline_spark.functions.strings import (
    normalize_quoted_json,
    parse_unit_price,
    strip_non_digits,
    truncate_ellipsis,
)
from bytesme_etl_batch_pipeline_spark.plans import queries as catalog
from bytesme_etl_batch_pipeline_spark.schemas import UNIT_PRICE


def test_parse_unit_price_three_shapes(spark):
    rows = [
        (1, "89000"),                                                     # plain int
        (2, "0"),                                                         # zero
        (3, "{'product_sizes': 'S|M|L', 'product_prices': '89|94|99'}"),  # quoted JSON
        (4, "{'product_sizes': 'S’pecial|M', 'product_prices': '1|2'}"),  # apostrophe in value
    ]
    df = spark.createDataFrame(rows, ["id", "product_unit_price"])
    out = df.select(
        "id", parse_unit_price("product_unit_price", UNIT_PRICE).alias("p")
    ).collect()
    by_id = {r["id"]: r["p"] for r in out}
    assert by_id[1] is None and by_id[2] is None  # non-JSON shapes → NULL struct
    assert by_id[3]["product_sizes"] == "S|M|L"
    assert by_id[3]["product_prices"] == "89|94|99"
    # the naive replace("'", '"') would corrupt this value; ours must not
    assert by_id[4]["product_sizes"] == "S’pecial|M"


def test_normalize_quoted_json_keeps_interior_apostrophe(spark):
    df = spark.createDataFrame(
        [("{'name': 'bánh D’or', 'n': '3'}",)], ["s"]
    )
    out = df.select(
        F.get_json_object(normalize_quoted_json("s"), "$.name").alias("v")
    ).collect()
    assert out[0]["v"] == "bánh D’or"


def test_strip_non_digits_and_truncate(spark):
    df = spark.createDataFrame([("129.000 ₫", "x" * 120)], ["price", "txt"])
    r = df.select(
        strip_non_digits("price").alias("p"),
        truncate_ellipsis("txt", 100).alias("t"),
    ).collect()[0]
    assert r["p"] == 129000
    assert r["t"].endswith("...") and len(r["t"]) == 103


def test_approx_distinct_error_bound(spark, sf_dir):
    exact = {
        r["l_returnflag"]: r["n_parts"]
        for r in catalog.SPARK_QUERIES["distinct_counts"](spark, sf_dir).collect()
    }
    approx = {
        r["l_returnflag"]: r["n_parts_approx"]
        for r in catalog.SPARK_QUERIES["approx_distinct_counts"](spark, sf_dir).collect()
    }
    for k, ex in exact.items():
        assert abs(approx[k] - ex) / ex < 0.1, (k, ex, approx[k])


def test_embed_then_search_self_retrieval(spark, sf_dir):
    """E2→E4 end-to-end: embed documents, search with one doc's embedding —
    that doc must rank first with score ≈ 1."""
    from bytesme_etl_batch_pipeline_spark.operators.embed import embed_column
    from bytesme_etl_batch_pipeline_spark.operators.similarity import topk_brute_force
    from bytesme_etl_batch_pipeline_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").limit(50)
    emb = d.select("doc_id", embed_column(F.col("text")).alias("embedding"))
    query = emb.filter(F.col("doc_id") == 7).select(F.col("embedding").alias("q"))
    top = topk_brute_force(emb, query, k=3, id_col="doc_id").collect()
    assert top[0]["doc_id"] == 7
    assert abs(top[0]["score"] - 1.0) < 1e-5


def test_semantic_pipeline_shape_and_determinism(spark, sf_dir):
    df = catalog.SPARK_QUERIES["semantic_search_pipeline"](spark, sf_dir)
    rows1 = df.collect()
    assert len(rows1) == 5
    assert rows1[0]["score"] is not None
    # widget/economy terms should surface widget-ish or economy parts first
    top_text = " ".join(r["p_name"] + " " + r["p_type"] for r in rows1).lower()
    assert "widget" in top_text or "economy" in top_text
    rows2 = catalog.SPARK_QUERIES["semantic_search_pipeline"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2))


def test_malformed_json_and_digitless_inputs_are_null(spark):
    """Review regression: NULL-on-malformed parity shapes (empty/garbage
    JSON, digitless strings) must not error in either engine path."""
    import duckdb

    from bytesme_etl_batch_pipeline_spark.functions.strings import strip_non_digits

    df = spark.createDataFrame([("no digits here",), ("",)], ["s"])
    got = [r[0] for r in df.select(strip_non_digits("s")).collect()]
    assert got == [None, None]

    df2 = spark.createDataFrame([("",), ("not json",), ('{"k": 5}',)], ["props"])
    got2 = [
        r[0]
        for r in df2.select(
            F.get_json_object("props", "$.k").cast("int").alias("k")
        ).collect()
    ]
    assert got2 == [None, None, 5]
    # the oracle shape used in queries.py must agree
    con = duckdb.connect()
    oracle = con.sql(
        """
        SELECT CASE WHEN json_valid(props)
                    THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k
        FROM (VALUES (''), ('not json'), ('{"k": 5}')) t(props)
        """
    ).fetchall()
    assert [r[0] for r in oracle] == [None, None, 5]
    con.close()


def test_asof_join_tie_is_deterministic(spark):
    """Review regression: tied (key, ts) right rows resolve to the greatest
    right_vals tuple, stably across runs."""
    import datetime

    from bytesme_etl_batch_pipeline_spark.operators.joins import asof_join

    t = datetime.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame([(1, t, "evt")], "user_id long, ts timestamp, tag string")
    right = spark.createDataFrame(
        [(1, t, 10.0), (1, t, 99.0)], "user_id long, ts timestamp, purchase_value double"
    )
    for _ in range(3):
        out = asof_join(
            left, right, key="user_id", left_time="ts", right_time="ts",
            right_vals=["purchase_value"],
        ).collect()
        assert len(out) == 1 and out[0]["purchase_value"] == 99.0


def test_asof_join_null_in_latest_right_row_stays_null(spark):
    """Review regression: the latest right row wins WHOLESALE — a NULL field
    in it must not resurrect an older row's value, and multi-column results
    must never stitch fields from different right rows."""
    import datetime

    from bytesme_etl_batch_pipeline_spark.operators.joins import asof_join

    t1 = datetime.datetime(2024, 1, 1, 10, 0)
    t2 = datetime.datetime(2024, 1, 1, 11, 0)
    t3 = datetime.datetime(2024, 1, 1, 12, 0)
    left = spark.createDataFrame([(1, t3, "e")], "user_id long, ts timestamp, tag string")
    right = spark.createDataFrame(
        [(1, t1, 5.0, "a"), (1, t2, None, "b")],
        "user_id long, ts timestamp, v double, w string",
    )
    out = asof_join(
        left, right, key="user_id", left_time="ts", right_time="ts",
        right_vals=["v", "w"],
    ).collect()[0]
    assert out["v"] is None     # latest row's NULL, not the stale 5.0
    assert out["w"] == "b"      # both fields from the SAME (latest) row


def test_minhash_band_permutation_no_false_candidate(spark):
    """Review regression: band hashes are seed-ordered, so signatures that
    are value-permutations of each other must not collide."""
    from pyspark.sql import functions as F

    from bytesme_etl_batch_pipeline_spark.operators.neardup import minhash_lsh_pairs

    # Two docs with disjoint content: their per-seed minhashes differ, and
    # value-sorting must not accidentally align them. Use num_hashes=2 with
    # one band of 2 rows so the whole signature is one band hash.
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    pairs = minhash_lsh_pairs(df, "doc_id", "text", num_hashes=2, bands=1, shingle_n=1)
    assert pairs.count() == 0

    # sanity: identical docs DO collide
    df2 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")], ["doc_id", "text"]
    )
    assert minhash_lsh_pairs(df2, "doc_id", "text", num_hashes=2, bands=1, shingle_n=1).count() == 1


def test_minhash_bands_must_divide():
    import pytest as _pytest

    from bytesme_etl_batch_pipeline_spark.operators.neardup import minhash_lsh_pairs

    with _pytest.raises(AssertionError):
        minhash_lsh_pairs(None, "id", "text", num_hashes=10, bands=4)


def test_approx_percentiles_error_bound(spark, sf_dir):
    exact = {
        r["l_returnflag"]: (r["p50"], r["p99"])
        for r in catalog.SPARK_QUERIES["quantity_percentiles"](spark, sf_dir).collect()
    }
    approx = {
        r["l_returnflag"]: (r["p50_approx"], r["p99_approx"])
        for r in catalog.SPARK_QUERIES["approx_percentiles"](spark, sf_dir).collect()
    }
    for k, (p50, p99) in exact.items():
        assert abs(approx[k][0] - p50) / max(p50, 1) < 0.05
        assert abs(approx[k][1] - p99) / max(p99, 1) < 0.05


def test_parse_unit_price_udtf_tolerant(spark):
    """The UDTF parses the reference's single-quoted struct (apostrophes in
    values included), emits NULL price for non-numeric entries, and emits
    no rows for malformed/NULL input instead of raising."""
    from bytesme_etl_batch_pipeline_spark.functions.strings import (
        register_parse_unit_price_udtf,
    )

    register_parse_unit_price_udtf(spark)
    rows = [
        (1, "{'product_sizes': 'S|M', 'product_prices': '1000|2000'}"),
        (2, "{'product_sizes': \"D'or|L\", 'product_prices': '5|x'}"),
        (3, "not a struct"),
        (4, None),
        (5, "{'product_sizes': 'S'}"),  # missing prices key → no rows
        # ragged ladder: NULL-padded to the longer side like arrays_zip,
        # never silently truncated
        (6, "{'product_sizes': 'S|M|L', 'product_prices': '10|20'}"),
    ]
    df = spark.createDataFrame(rows, "id long, unit_price string")
    out = spark.sql(
        "SELECT t.id, u.size, u.price "
        "FROM {t} t, LATERAL parse_unit_price_udtf(t.unit_price) u",
        t=df,
    )
    got = sorted(
        (r["id"], r["size"], r["price"]) for r in out.collect()
    )
    assert got == [
        (1, "M", 2000),
        (1, "S", 1000),
        (2, "D'or", 5),
        (2, "L", None),
        (6, "L", None),
        (6, "M", 20),
        (6, "S", 10),
    ]


def test_unicode_normalize_and_fold(spark):
    """NFC composes decomposed Vietnamese diacritics (equality and digests
    align after normalization); accent folding strips tone marks but keeps
    the letter đ; NULL passes through both."""
    import unicodedata

    from pyspark.sql import functions as F

    from bytesme_etl_batch_pipeline_spark.operators.textops import (
        fold_accents,
        normalize_unicode,
    )

    composed = "Bánh tiệc sinh nhật"
    decomposed = unicodedata.normalize("NFD", composed)
    assert composed != decomposed  # the very bug the operator fixes
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, "cà phê sữa đá"), (4, None)],
        "i long, t string",
    )
    out = {
        r.i: r
        for r in df.select(
            "i",
            normalize_unicode(F.col("t")).alias("nfc"),
            fold_accents(F.col("t")).alias("folded"),
        ).collect()
    }
    assert out[1].nfc == out[2].nfc == composed  # forms converge under NFC
    assert out[3].folded == "ca phe sua đa"  # tones stripped, đ kept
    assert out[4].nfc is None and out[4].folded is None


def test_canonicalize_url_edge_cases(spark):
    from bytesme_etl_batch_pipeline_spark.functions.strings import canonicalize_url

    cases = [
        ("HTTP://Host.COM:80/p/1/?utm_source=x#top", "http://host.com/p/1"),
        ("https://a.b:443/", "https://a.b/"),
        ("https://a.b:8443/x", "https://a.b:8443/x"),  # non-default port kept
        ("http://h/p?id=3&utm_campaign=c&fbclid=z", "http://h/p?id=3"),
        ("http://h/p?utm_only=1", "http://h/p"),  # all params stripped → no '?'
        ("http://H/", "http://h/"),
        ("not a url", "not a url"),
        (None, None),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i long, u string")
    got = {r.i: r.c for r in df.select("i", canonicalize_url("u").alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i], got[i])


def test_source_overlap_estimate_error_bound(spark, sf_dir):
    """HLL inclusion-exclusion overlap: each estimated cardinality within
    ~3σ of the lg_k=14 sketch error (0.81/√2^14 ≈ 0.63%) of its exact
    value; the intersection inherits the summed absolute errors."""
    from pyspark.sql import functions as F

    from bytesme_etl_batch_pipeline_spark.operators.neardup import word_ngrams
    from bytesme_etl_batch_pipeline_spark.operators.textops import words
    from bytesme_etl_batch_pipeline_spark.plans import queries as catalog
    from bytesme_etl_batch_pipeline_spark.sources.tables import load_table

    row = catalog.SPARK_QUERIES["source_overlap_estimate"](spark, sf_dir).collect()[0]
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(word_ngrams(words("text"), 3)).alias("t")
    ).filter(F.col("source").isin("src0", "src1"))
    a = {r.t for r in tok.filter(F.col("source") == "src0").select("t").distinct().collect()}
    b = {r.t for r in tok.filter(F.col("source") == "src1").select("t").distinct().collect()}
    rel = 3 * 0.0064
    assert abs(row.est_src0 - len(a)) <= rel * len(a) + 2
    assert abs(row.est_src1 - len(b)) <= rel * len(b) + 2
    assert abs(row.est_union - len(a | b)) <= rel * len(a | b) + 2
    tol = rel * (len(a) + len(b) + len(a | b)) + 6
    assert abs(row.est_intersection - len(a & b)) <= tol


def test_compression_ratio_screen(spark):
    """zlib compressibility: repetitive text scores far below natural
    prose, NULL text propagates, and the score is run-to-run identical."""
    from bytesme_etl_batch_pipeline_spark.operators.textops import (
        compression_ratio,
    )

    rows = [
        (1, "spam spam spam " * 50),
        (2, "the quick brown fox jumps over a lazy dog while seven wizards "
            "brew quartz elixirs under a pale moon tonight"),
        (3, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r.doc_id: r for r in compression_ratio(docs).collect()}
    b = {r.doc_id: r for r in compression_ratio(docs).collect()}
    assert a[1].compression_ratio == b[1].compression_ratio  # deterministic
    assert a[1].compression_ratio < 0.2 < a[2].compression_ratio
    assert a[3].compression_ratio is None and a[3].raw_len is None


def test_asof_join_null_right_time_never_matches(spark):
    """A right row with NULL time satisfies no right_time <= left_time
    predicate; ascending NULLS FIRST ordering must not carry it forward
    as a phantom earliest match."""
    from bytesme_etl_batch_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 9)], "k long, t long")
    right = spark.createDataFrame(
        [(1, None, 99), (1, 10, 1)], "k long, rt long, v long"
    )
    out = asof_join(left, right, key="k", left_time="t", right_time="rt",
                    right_vals=["v"]).collect()
    assert len(out) == 1 and out[0]["v"] is None  # nothing as-of 9


def test_asof_join_null_key_never_matches(spark):
    """SQL equi/ASOF joins never match NULL = NULL, but the window
    formulation's partitionBy groups NULL keys together — a NULL-key left
    row must come back with NULL values, not a phantom match against a
    NULL-key right row."""
    from bytesme_etl_batch_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame([(None, 9), (1, 9)], "k long, t long")
    right = spark.createDataFrame(
        [(None, 5, 99), (1, 5, 7)], "k long, rt long, v long"
    )
    out = {r["k"]: r["v"] for r in asof_join(
        left, right, key="k", left_time="t", right_time="rt",
        right_vals=["v"]).collect()}
    assert out == {None: None, 1: 7}


def test_asof_join_rejects_colliding_value_columns(spark):
    from bytesme_etl_batch_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 9, "x")], "k long, t long, v string")
    right = spark.createDataFrame([(1, 5, "y")], "k long, rt long, v string")
    with pytest.raises(ValueError, match="collide with left columns"):
        asof_join(left, right, key="k", left_time="t", right_time="rt",
                  right_vals=["v"])


def test_zip_join_sep_is_literal_not_regex(spark):
    """A caller passing the natural literal '|' must get pipe splitting,
    not the empty-alternation regex that splits every character."""
    from bytesme_etl_batch_pipeline_spark.operators.joins import zip_join

    df = spark.createDataFrame([("a|b", "x|y")], "l string, r string")
    for sep in ("|", "."):
        d2 = df if sep == "|" else spark.createDataFrame(
            [("a.b", "x.y")], "l string, r string"
        )
        out = zip_join(d2, "l", "r", "z", sep=sep).collect()[0]["z"]
        assert [(p["left"], p["right"]) for p in out] == [("a", "x"), ("b", "y")]


def test_lookup_map_join_hit_miss_null_and_empty_mapping(spark):
    """J5: a hit maps, a miss and a NULL key give NULL, and an empty
    mapping gives an all-NULL string column instead of failing analysis."""
    from bytesme_etl_batch_pipeline_spark.operators.joins import lookup_map_join

    df = spark.createDataFrame([(1, "a"), (2, "z"), (3, None)], "id int, k string")
    out = lookup_map_join(df, {"a": "alpha", "b": "beta"}, "k", "v")
    assert {r["id"]: r["v"] for r in out.collect()} == {1: "alpha", 2: None, 3: None}

    empty = lookup_map_join(df, {}, "k", "v")
    assert dict(empty.dtypes)["v"] == "string"
    assert [r["v"] for r in empty.collect()] == [None, None, None]


def test_vi_tokenize_column_fallback_equals_words(spark):
    """E6: without pyvi the Vietnamese tokenizer hook falls back to the
    whitespace tokens of ``textops.words``."""
    import importlib.util

    if importlib.util.find_spec("pyvi") is not None:
        pytest.skip("pyvi installed: the hook segments words instead")
    from bytesme_etl_batch_pipeline_spark.operators.textops import (
        vi_tokenize_column,
        words,
    )

    df = spark.createDataFrame(
        [("Xin chào  các bạn\tHà Nội",), ("",), (None,)], "t string"
    )
    rows = df.select(
        vi_tokenize_column("t").alias("vi"), words("t").alias("ws")
    ).collect()
    assert [r["vi"] for r in rows] == [r["ws"] for r in rows]
    assert rows[0]["vi"] == ["xin", "chào", "các", "bạn", "hà", "nội"]


def test_lit_doubles_bit_identical_to_elementwise_fold(spark):
    """The one-call SQL-string literal path must reproduce the element-wise
    F.array(F.lit(...)) values BIT-exactly (repr is shortest-round-trip and
    JVM decimal parsing is correctly rounded), including negative zero and
    denormal/extreme magnitudes; non-finite values must fall back to the
    element-wise form rather than failing the SQL parse."""
    import math

    from bytesme_etl_batch_pipeline_spark.functions.arrays import (
        lit_doubles,
        lit_doubles_2d,
    )

    vals = [0.1, -0.0, 1e-308, 1.7976931348623157e308, 2.0 / 3.0, -1.25e-7]
    df = spark.range(1).select(
        lit_doubles(vals).alias("fast"),
        F.array(*[F.lit(float(x)) for x in vals]).alias("ref"),
        lit_doubles_2d([vals, vals[::-1]]).alias("fast2d"),
        lit_doubles([1.0, float("inf"), float("nan")]).alias("fallback"),
    )
    row = df.first()
    import struct

    as_bits = lambda xs: [struct.pack("<d", x) for x in xs]
    assert as_bits(row["fast"]) == as_bits(row["ref"])
    assert as_bits(row["fast2d"][0]) == as_bits(vals)
    assert as_bits(row["fast2d"][1]) == as_bits(vals[::-1])
    assert row["fallback"][0] == 1.0 and math.isinf(row["fallback"][1])
    assert math.isnan(row["fallback"][2])
