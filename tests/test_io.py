"""Source/sink behavior (SURVEY §2.1): CSV/JSON round-trips, glob scans with
lineage, and lineage-ordered keep-first dedup — the D1 semantics the
reference gets implicitly from pandas file order."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from bytesme_etl_batch_pipeline_spark.operators.dedup import dedup_keep_first
from bytesme_etl_batch_pipeline_spark.sources.files import (
    protocol_sibling,
    read_csv,
    read_json,
    write_csv,
    write_json,
)

SCHEMA = StructType(
    [
        StructField("product_name", StringType()),
        StructField("product_url", StringType()),
        StructField("price", IntegerType()),
    ]
)


@pytest.fixture()
def tmpdir():
    with tempfile.TemporaryDirectory() as d:
        yield d


def test_csv_roundtrip_with_glob_and_lineage(spark, tmpdir):
    # Two per-source files, as the reference's data/raw/*_products.csv layout
    f1 = os.path.join(tmpdir, "a_products.csv")
    f2 = os.path.join(tmpdir, "b_products.csv")
    with open(f1, "w") as f:
        f.write("product_name,product_url,price\nCake,http://x,10\nTea,http://y,20\n")
    with open(f2, "w") as f:
        f.write("product_name,product_url,price\nCake,http://x,99\nPie,http://z,30\n")

    df = read_csv(spark, os.path.join(tmpdir, "*_products.csv"), SCHEMA, with_lineage=True)
    rows = df.collect()
    assert len(rows) == 4
    assert {os.path.basename(r["source_file"]) for r in rows} == {
        "a_products.csv",
        "b_products.csv",
    }

    # D1 keep-first under file order: the a_products row must win
    deduped = dedup_keep_first(
        df, keys=["product_name", "product_url"], order_by=["source_file", "row_pos"]
    )
    kept = {r["product_name"]: r for r in deduped.collect()}
    assert len(kept) == 3
    assert kept["Cake"]["price"] == 10
    assert os.path.basename(kept["Cake"]["source_file"]) == "a_products.csv"


def test_csv_write_read_roundtrip(spark, tmpdir):
    df = spark.createDataFrame([("Cake", "http://x", 10)], SCHEMA)
    out = os.path.join(tmpdir, "out_csv")
    write_csv(df, out)
    back = read_csv(spark, out, SCHEMA).collect()
    assert [tuple(r) for r in back] == [("Cake", "http://x", 10)]


def test_csv_permissive_malformed_rows(spark, tmpdir):
    """Reference per-file try/except → engine row-level tolerance."""
    f1 = os.path.join(tmpdir, "bad.csv")
    with open(f1, "w") as f:
        f.write('product_name,product_url,price\nOK,http://x,1\nBad,http://y,"not-an-int"\n')
    df = read_csv(spark, f1, SCHEMA, permissive=True)
    rows = df.collect()
    assert len(rows) == 2  # malformed row survives with NULLed bad column
    bad = [r for r in rows if r["product_name"] == "Bad"][0]
    assert bad["price"] is None


def test_json_roundtrip(spark, tmpdir):
    df = spark.createDataFrame([("siteA", ["http://1", "http://2"])], "site string, urls array<string>")
    out = os.path.join(tmpdir, "out_json")
    write_json(df, out)
    back = read_json(spark, out)
    r = back.collect()[0]
    assert r["site"] == "siteA" and r["urls"] == ["http://1", "http://2"]


def test_http_fetch_distributed(spark):
    """S6: distributed fetch over a URL frontier with per-URL isolation."""
    from bytesme_etl_batch_pipeline_spark.sources.http import fetch_pages, mock_fetcher

    urls = spark.createDataFrame(
        [(f"http://site{i}.test/page",) for i in range(40)], ["url"]
    ).repartition(4)
    out = fetch_pages(urls).collect()
    assert len(out) == 40
    ok = [r for r in out if r["status"] == 200]
    assert len(ok) > 30
    for r in ok:
        assert r["url"] in r["body"] and r["error"] is None
    # deterministic fetcher → rerun identical
    again = fetch_pages(
        spark.createDataFrame([(out[0]["url"],)], ["url"]), fetcher=mock_fetcher
    ).collect()[0]
    match = [r for r in out if r["url"] == again["url"]][0]
    assert again["body"] == match["body"]


def test_http_fetch_error_isolation(spark):
    from bytesme_etl_batch_pipeline_spark.sources.http import fetch_pages

    def flaky(url):
        if url.endswith("/bad"):
            raise ConnectionError("boom")
        return 200, "ok"

    urls = spark.createDataFrame([("http://a/good",), ("http://a/bad",)], ["url"])
    out = {r["url"]: r for r in fetch_pages(urls, fetcher=flaky).collect()}
    assert out["http://a/good"]["status"] == 200
    assert out["http://a/bad"]["status"] is None
    assert "boom" in out["http://a/bad"]["error"]


def test_extract_category_urls_matches_reference_logic(spark):
    """S6 menu crawl (menus_crawling.py:21-55): anchors inside matching
    menu blocks only, '#' hrefs fall back to data-url, keyword filter,
    urljoin absolutization, set-dedup — checked against urllib.parse's
    urljoin on every shape the reference can meet."""
    from urllib.parse import urljoin

    from bytesme_etl_batch_pipeline_spark.sources.http import extract_category_urls

    base = "https://tljus.com/menu/page"
    hrefs = [
        "/cakes",                      # root-relative
        "drinks/tea",                  # path-relative
        "//cdn.tljus.com/abs",         # protocol-relative
        "https://other.com/full",      # absolute
        "/cakes",                      # duplicate -> set-dedup
    ]
    anchors = "\n".join(f'<a class="m" href="{h}">x</a>' for h in hrefs)
    html = (
        f'<nav class="x dropdown-list-8">{anchors}'
        f'<a href="#" data-url="https://tljus.com/special">s</a></nav>'
        f'<div class="not-menu"><a href="/skipped">n</a></div>'
    )
    pages = spark.createDataFrame([(base, html)], "url string, body string")
    got = sorted(
        r.category_url
        for r in extract_category_urls(
            pages, menu_tag="nav", menu_selector="dropdown-list"
        ).collect()
    )
    want = sorted(
        {urljoin(base, h) for h in hrefs} | {"https://tljus.com/special"}
    )
    assert got == want
    assert "https://tljus.com/skipped" not in got  # non-menu block excluded


def test_extract_category_urls_keyword_filter_and_none(spark):
    """filter_keyword='None' (the reference's YAML literal) and None both
    keep everything; a real keyword keeps only matching urls (substring
    test BEFORE absolutization, as the reference does)."""
    from bytesme_etl_batch_pipeline_spark.sources.http import extract_category_urls

    html = (
        '<ul class="menu-root">'
        '<a href="/product-category/tea">t</a>'
        '<a href="/about">a</a></ul>'
    )
    pages = spark.createDataFrame(
        [("https://b.vn/", html)], "url string, body string"
    )
    kw = lambda k: sorted(  # noqa: E731
        r.category_url
        for r in extract_category_urls(
            pages, menu_tag="ul", menu_selector="menu", filter_keyword=k
        ).collect()
    )
    both = ["https://b.vn/about", "https://b.vn/product-category/tea"]
    assert kw(None) == both
    assert kw("None") == both
    assert kw("product-category") == ["https://b.vn/product-category/tea"]


def test_extract_category_urls_single_quoted_attributes(spark):
    """HTML parsers are quote-agnostic; single-quoted class/href/data-url
    attributes extract identically to double-quoted ones."""
    from bytesme_etl_batch_pipeline_spark.sources.http import extract_category_urls

    html = (
        "<nav class='dropdown-list-8'>"
        "<a href='/cakes'>c</a>"
        "<a href='#' data-url='https://t.vn/promo'>p</a></nav>"
    )
    pages = spark.createDataFrame(
        [("https://t.vn/menu", html)], "url string, body string"
    )
    got = sorted(
        r.category_url
        for r in extract_category_urls(
            pages, menu_tag="nav", menu_selector="dropdown-list"
        ).collect()
    )
    assert got == ["https://t.vn/cakes", "https://t.vn/promo"]


def test_extract_category_urls_urljoin_edge_cases(spark):
    """urljoin parity on the hard shapes: a base url with NO path, a query
    string containing '/', scheme-prefixed refs (tel:/mailto:/uppercase)
    passing through, an explicit port surviving absolutization, and
    data-href never shadowing the real href."""
    from urllib.parse import urljoin

    from bytesme_etl_batch_pipeline_spark.sources.http import extract_category_urls

    cases = [
        ("https://example.com", "drinks/tea"),         # pathless base
        ("https://h.vn/p?a=b/c", "rel"),               # '/' inside query
        ("https://t.vn/menu", "tel:+84123"),            # non-http scheme
        ("https://t.vn/menu", "HTTP://OTHER.COM/x"),    # uppercase scheme
        ("https://t.vn:8443/menu/", "/root-rel"),       # port + root-relative
        ("https://t.vn:8443/menu/", "kid"),             # port + path-relative
    ]
    rows = [
        (base, f'<nav class="menu"><a data-href="/lazy" href="{h}">x</a></nav>')
        for base, h in cases
    ]
    pages = spark.createDataFrame(rows, "url string, body string")
    got = {
        (r.site_url, r.category_url)
        for r in extract_category_urls(
            pages, menu_tag="nav", menu_selector="menu"
        ).collect()
    }
    want = {(base, urljoin(base, h)) for base, h in cases}
    assert got == want  # and no '/lazy' anywhere: data-href never matched


def test_load_pipeline_config(tmpdir):
    from bytesme_etl_batch_pipeline_spark.plans.pipeline import load_config

    cfg_path = os.path.join(tmpdir, "etl.yml")
    with open(cfg_path, "w") as f:
        f.write("pipeline:\n  stages: [standardize_categories, remove_duplicates]\n")
    cfg = load_config(cfg_path)
    assert cfg["pipeline"]["stages"] == ["standardize_categories", "remove_duplicates"]


def test_write_csv_quote_round_trip(spark, tmp_path):
    """The engine's own CSV output must round-trip fields containing
    quotes/newlines (writer escape matches the reader's doubled-quote)."""
    from bytesme_etl_batch_pipeline_spark.sources.files import read_csv, write_csv

    df = spark.createDataFrame(
        [(1, 'He said "hi", twice'), (2, "line1\nline2")], "id long, txt string"
    )
    out = str(tmp_path / "rt_csv")
    write_csv(df, out)
    back = read_csv(spark, out, schema=df.schema)
    got = {r["id"]: r["txt"] for r in back.collect()}
    assert got == {1: 'He said "hi", twice', 2: "line1\nline2"}


def test_read_csv_corrupt_capture_and_stable_row_pos(spark, tmp_path):
    """corrupt_col quarantines malformed rows (raw line preserved) and
    row_pos is the 0-based per-file position."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from bytesme_etl_batch_pipeline_spark.sources.files import read_csv

    p = tmp_path / "bad.csv"
    p.write_text('id,n\n1,10\nnot_a_number,x\n3,30\n', encoding="utf-8")
    schema = StructType([StructField("id", LongType()), StructField("n", LongType())])
    df = read_csv(
        spark, str(p), schema=schema, with_lineage=True, corrupt_col="_bad"
    )
    rows = sorted(df.collect(), key=lambda r: r["row_pos"])
    assert [r["row_pos"] for r in rows] == [0, 1, 2]
    assert rows[0]["_bad"] is None and rows[0]["id"] == 1
    assert rows[1]["id"] is None and "not_a_number" in rows[1]["_bad"]
    assert rows[2]["n"] == 30


def test_parquet_zstd_compression_codec(spark, tmp_path):
    """The compression knob reaches the files: footers report ZSTD and the
    payload shrinks versus uncompressed."""
    import glob
    import os

    import pyarrow.parquet as pq

    from bytesme_etl_batch_pipeline_spark.sources.files import write_parquet

    df = spark.range(0, 20000).selectExpr(
        "id", "repeat(concat('v', cast(id % 7 as string)), 20) AS payload"
    )
    zstd_path = str(tmp_path / "zstd")
    raw_path = str(tmp_path / "raw")
    write_parquet(df, zstd_path, compression="zstd")
    write_parquet(df, raw_path, compression="uncompressed")

    part = glob.glob(os.path.join(zstd_path, "*.parquet"))[0]
    meta = pq.ParquetFile(part).metadata
    codecs = {
        meta.row_group(i).column(j).compression
        for i in range(meta.num_row_groups)
        for j in range(meta.num_columns)
    }
    assert codecs == {"ZSTD"}

    size = lambda p: sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(p, "*.parquet"))
    )
    assert size(zstd_path) < size(raw_path)


def test_merge_upsert_parquet_lifecycle(spark, tmp_path):
    """MERGE INTO on plain parquet: bootstrap, update-wins, delete,
    idempotent batch re-apply, and crash recovery from a stale staging
    directory — readers always see a complete table."""
    import os

    from bytesme_etl_batch_pipeline_spark.sources.files import merge_upsert_parquet

    base = str(tmp_path / "tbl")
    rows = lambda *rs: spark.createDataFrame(
        list(rs), "k long, v string, version long, deleted boolean"
    )
    # bootstrap (no base yet)
    n = merge_upsert_parquet(
        spark, base, rows((1, "a", 1, False), (2, "b", 1, False)),
        ["k"], "version", "deleted",
    )
    assert n == 2
    # update k=1, insert k=3, delete k=2
    batch2 = rows((1, "a2", 2, False), (3, "c", 2, False), (2, "b", 2, True))
    n = merge_upsert_parquet(spark, base, batch2, ["k"], "version", "deleted")
    assert n == 2
    got = {r.k: r.v for r in spark.read.parquet(base).collect()}
    assert got == {1: "a2", 3: "c"}
    # re-applying the same batch is a no-op (update-beats-base at equal version)
    n = merge_upsert_parquet(spark, base, batch2, ["k"], "version", "deleted")
    assert n == 2
    assert {r.k: r.v for r in spark.read.parquet(base).collect()} == {1: "a2", 3: "c"}
    # stale staging from a simulated crash must not poison the next publish
    staging = protocol_sibling(base, "staging")
    os.makedirs(staging, exist_ok=True)
    open(os.path.join(staging, "junk"), "w").write("partial")
    n = merge_upsert_parquet(
        spark, base, rows((4, "d", 3, False)), ["k"], "version", "deleted"
    )
    assert n == 3
    assert {r.k: r.v for r in spark.read.parquet(base).collect()} == {
        1: "a2", 3: "c", 4: "d",
    }
    assert not os.path.exists(protocol_sibling(base, "retired"))


def test_merge_upsert_recovers_retired_after_crash(spark, tmp_path):
    """ADVICE r3 (medium): a crash between rename(base->__retired) and
    rename(__staging->base) leaves __retired as the ONLY copy. The next
    run must restore it instead of treating the table as a first load."""
    import os
    import shutil

    from bytesme_etl_batch_pipeline_spark.sources.files import merge_upsert_parquet

    base = str(tmp_path / "tbl")
    rows = lambda *rs: spark.createDataFrame(
        list(rs), "k long, v string, version long, deleted boolean"
    )
    merge_upsert_parquet(
        spark, base, rows((1, "a", 1, False), (2, "b", 1, False)),
        ["k"], "version", "deleted",
    )
    # simulate the crash window: base retired, staging lost, no new base
    os.rename(base, protocol_sibling(base, "retired"))
    n = merge_upsert_parquet(
        spark, base, rows((3, "c", 2, False)), ["k"], "version", "deleted"
    )
    assert n == 3  # old rows survived the crash
    got = {r.k: r.v for r in spark.read.parquet(base).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    assert not os.path.exists(protocol_sibling(base, "retired"))


def test_incremental_rollup_recovers_retired_after_crash(spark, tmp_path):
    """Same crash window for the rollup-state publish."""
    import os

    from bytesme_etl_batch_pipeline_spark.operators.aggregate import (
        incremental_rollup,
    )

    state = str(tmp_path / "state")
    d1 = spark.createDataFrame([("x", 10), ("y", 20)], "k string, v long")
    incremental_rollup(spark, state, d1, keys=["k"], sum_cols=["v"])
    os.rename(state, protocol_sibling(state, "retired"))
    d2 = spark.createDataFrame([("x", 5)], "k string, v long")
    out = incremental_rollup(spark, state, d2, keys=["k"], sum_cols=["v"])
    got = {r.k: int(r.sum_v) for r in out.collect()}
    assert got == {"x": 15, "y": 20}  # first delta survived the crash
    assert not os.path.exists(protocol_sibling(state, "retired"))


@pytest.mark.parametrize("crash_after", [0, 1, 2])
def test_incremental_rollup_exactly_once_crash_retry(spark, tmp_path, crash_after):
    """Exactly-once across crash+retry via batch_id: crash the publish
    after each possible os-mutation count (0 = before retiring the old
    state, 1 = the ADVICE r3 retired-only window, 2 = AFTER promotion —
    the double-count window: additive sums would re-apply the delta on a
    blind retry), then retry the SAME delta with the SAME batch_id and
    require the exactly-once result every time."""
    import shutil

    from bytesme_etl_batch_pipeline_spark.operators.aggregate import (
        incremental_rollup,
    )

    state = str(tmp_path / "state")
    d1 = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    incremental_rollup(
        spark, state, d1, keys=["k"], sum_cols=["v"], batch_id="b1"
    )
    d2 = spark.createDataFrame([("a", 10)], ["k", "v"])

    from tests.crashinject import crash_after as _crash

    with _crash(crash_after, (os, "rename"), (shutil, "rmtree")):
        with pytest.raises(OSError, match="injected crash"):
            incremental_rollup(
                spark, state, d2, keys=["k"], sum_cols=["v"], batch_id="b2"
            )

    out = incremental_rollup(
        spark, state, d2, keys=["k"], sum_cols=["v"], batch_id="b2"
    )
    got = {r["k"]: float(r["sum_v"]) for r in out.collect()}
    assert got == {"a": 11.0, "b": 2.0}  # never 21.0: no double-apply
    assert not os.path.exists(protocol_sibling(state, "retired"))


@pytest.mark.parametrize("crash_after", [0, 1, 2])
def test_merge_upsert_crash_retry_converges(spark, tmp_path, crash_after):
    """Crash the MERGE publish after each possible os-mutation count and
    retry the same change batch: version-latest-wins makes the re-apply a
    semantic no-op, so every window must converge to the same table with
    no sibling dirs left behind."""
    import shutil

    from bytesme_etl_batch_pipeline_spark.sources.files import merge_upsert_parquet

    base = str(tmp_path / "t")
    schema = "k long, v string, version long, deleted boolean"
    b1 = spark.createDataFrame(
        [(1, "a", 1, False), (2, "b", 1, False), (4, "d", 1, False)], schema
    )
    merge_upsert_parquet(spark, base, b1, ["k"], "version", "deleted")
    b2 = spark.createDataFrame(
        [(2, "B", 2, False), (3, "c", 2, False), (1, "a", 2, True)], schema
    )

    from tests.crashinject import crash_after as _crash

    with _crash(crash_after, (os, "rename"), (shutil, "rmtree")):
        with pytest.raises(OSError, match="injected crash"):
            merge_upsert_parquet(spark, base, b2, ["k"], "version", "deleted")

    # some complete copy (pre- or post-merge) is always readable
    assert os.path.exists(base) or os.path.exists(protocol_sibling(base, "retired"))
    n = merge_upsert_parquet(spark, base, b2, ["k"], "version", "deleted")
    assert n == 3
    got = {r["k"]: r["v"] for r in spark.read.parquet(base).collect()}
    # k=1 deleted, k=2 replaced, k=3 new, k=4 (base only) kept
    assert got == {2: "B", 3: "c", 4: "d"}
    assert not os.path.exists(protocol_sibling(base, "retired"))


def test_parquet_publish_lives_in_files():
    """Only ``sources/files.py`` renames or moves paths (comments and
    docstrings included), so every parquet publish goes through its one
    crash-safe swap, ``publish_parquet``."""
    import re
    from pathlib import Path

    from bytesme_etl_batch_pipeline_spark.sources import files

    package = Path(files.__file__).parents[1]
    found = [
        f"{path.relative_to(package).as_posix()}:{lineno}: {line.strip()}"
        for path in sorted(package.rglob("*.py"))
        if path != Path(files.__file__)
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"os\.rename|os\.replace|shutil\.move", line)
    ]
    assert not found, "\n".join(found)


def test_compact_parquet_inplace_preserves_rows(spark, tmp_path):
    """In-place compaction is pure layout: many small files collapse to
    few, the row multiset is bit-identical, and readers always see a
    complete table (staging swap, no second location needed)."""
    from bytesme_etl_batch_pipeline_spark.sources.files import compact_parquet

    path = str(tmp_path / "t")
    df = spark.range(0, 2000).selectExpr("id", "id % 7 as grp")
    df.repartition(64).write.parquet(path)  # the small-file mess
    before_files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(before_files) == 64
    before_rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    n = compact_parquet(spark, path, path, target_file_mb=128)
    after_files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert n == len(after_files) == 1  # tiny table -> one right-sized file
    after_rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after_rows == before_rows
    assert not os.path.exists(protocol_sibling(path, "staging"))
    assert not os.path.exists(protocol_sibling(path, "retired"))


@pytest.mark.parametrize("crash_after", [0, 1, 2])
def test_compact_parquet_inplace_crash_retry(spark, tmp_path, crash_after):
    """Crash the compaction publish after each os-mutation count: a
    complete copy always survives and the re-run converges (compaction is
    idempotent — same rows, fresh layout)."""
    import shutil

    from bytesme_etl_batch_pipeline_spark.sources.files import compact_parquet
    from tests.crashinject import crash_after as _crash

    path = str(tmp_path / "t")
    spark.range(0, 500).repartition(16).write.parquet(path)
    want = sorted(r["id"] for r in spark.read.parquet(path).collect())

    with _crash(crash_after, (os, "rename"), (shutil, "rmtree")):
        with pytest.raises(OSError, match="injected crash"):
            compact_parquet(spark, path, path, target_file_mb=128)
    assert os.path.exists(path) or os.path.exists(protocol_sibling(path, "retired"))

    n = compact_parquet(spark, path, path, target_file_mb=128)
    assert n == 1
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == want
    assert not os.path.exists(protocol_sibling(path, "retired"))


def test_merge_upsert_schema_guard_and_evolution(spark, tmp_path):
    """A change batch whose columns differ from the stored table must be
    rejected loudly by default — the old select-by-update-columns path
    silently DROPPED any stored column the batch omitted. With
    allow_schema_evolution=True the merge aligns by name: new columns
    backfill NULL for history, omitted columns are preserved."""
    from bytesme_etl_batch_pipeline_spark.sources.files import merge_upsert_parquet

    base = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [(1, "a", 10, 1), (2, "b", 20, 1)], "k long, v string, score long, version long"
    )
    merge_upsert_parquet(spark, base, b1, ["k"], "version")

    # batch missing `score` and adding `note`
    b2 = spark.createDataFrame(
        [(2, "B", "hello", 2), (3, "c", "new", 2)], "k long, v string, note string, version long"
    )
    with pytest.raises(ValueError, match="added=\\['note'\\] missing=\\['score'\\]"):
        merge_upsert_parquet(spark, base, b2, ["k"], "version")
    # the reject left the stored table untouched
    assert sorted(r["k"] for r in spark.read.parquet(base).collect()) == [1, 2]

    n = merge_upsert_parquet(
        spark, base, b2, ["k"], "version", allow_schema_evolution=True
    )
    assert n == 3
    got = {r["k"]: r for r in spark.read.parquet(base).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["score"] == 10 and got[1]["note"] is None  # history backfilled
    assert got[2]["v"] == "B" and got[2]["note"] == "hello"
    assert got[2]["score"] is None  # batch omitted score: "not provided"
    assert got[3]["note"] == "new" and got[3]["score"] is None


def test_compact_parquet_inplace_preserves_partition_layout(spark, tmp_path):
    """Compacting a hive-partitioned table must keep the partition
    directory layout (and with it, partition pruning) — a flat rewrite
    would silently turn every partition-pruned scan into a full scan."""
    from bytesme_etl_batch_pipeline_spark.sources.files import compact_parquet

    path = str(tmp_path / "t")
    df = spark.range(0, 900).selectExpr("id", "id % 3 as part")
    df.repartition(12).write.partitionBy("part").parquet(path)
    # 12 tasks x 3 partitions: a small-file mess inside each partition dir
    import glob

    assert len(glob.glob(os.path.join(path, "part=*", "*.parquet"))) > 6
    before = sorted((r["id"], r["part"]) for r in spark.read.parquet(path).collect())

    n = compact_parquet(spark, path, path, target_file_mb=128)
    dirs = sorted(os.path.basename(d) for d in glob.glob(os.path.join(path, "part=*")))
    assert dirs == ["part=0", "part=1", "part=2"]  # layout preserved
    assert n == len(glob.glob(os.path.join(path, "part=*", "*.parquet"))) == 3
    after = sorted((r["id"], r["part"]) for r in spark.read.parquet(path).collect())
    assert after == before
    # pruning still applies: the partition filter must actually appear
    # INSIDE PartitionFilters (the bare header string is present in every
    # scan as "PartitionFilters: []", so match the column within it)
    import re

    pruned = spark.read.parquet(path).filter("part = 1")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*part", plan), plan
    assert pruned.count() == 300


def test_compact_parquet_inplace_hot_partition_gets_multiple_files(spark, tmp_path):
    """Per-leaf sizing must honor target_file_mb per PARTITION: a hot
    partition splits into several right-sized files instead of one giant
    single-task file (the one-file-per-partition-value failure mode of
    cluster-by-key compaction)."""
    import glob

    from bytesme_etl_batch_pipeline_spark.sources.files import compact_parquet

    path = str(tmp_path / "t")
    # hot partition: ~200k incompressible strings (md5 hex); cold: 100 rows
    hot = spark.range(0, 200_000).selectExpr(
        "id", "md5(cast(id as string)) as payload", "0 as part"
    )
    cold = spark.range(0, 100).selectExpr(
        "id", "md5(cast(id as string)) as payload", "1 as part"
    )
    hot.unionAll(cold).repartition(24).write.partitionBy("part").parquet(path)

    compact_parquet(spark, path, path, target_file_mb=1)
    hot_files = glob.glob(os.path.join(path, "part=0", "*.parquet"))
    cold_files = glob.glob(os.path.join(path, "part=1", "*.parquet"))
    assert len(cold_files) == 1
    assert len(hot_files) >= 3, len(hot_files)  # ~several MB / 1 MB target
    assert spark.read.parquet(path).count() == 200_100


@pytest.mark.parametrize("crash_after", range(9))
def test_compact_partitioned_crash_retry_converges(spark, tmp_path, crash_after):
    """Per-LEAF crash matrix for partitioned in-place compaction: crash the
    publish protocol after EVERY os-mutation count across all three leaves
    (3 leaves x rename/rename/rmtree). The retry must recover any leaf
    parked at <leaf>__retired (recover_retired_tree), never enumerate a
    reserved __retired/__staging sibling as a partition, and converge to
    the same rows with the hive layout (and partition VALUES) intact."""
    import shutil

    from bytesme_etl_batch_pipeline_spark.sources.files import compact_parquet
    from tests.crashinject import crash_after as _crash

    path = str(tmp_path / "t")
    df = spark.range(0, 300).selectExpr("id", "cast(id % 3 as int) as part")
    df.repartition(8).write.partitionBy("part").parquet(path)
    want = sorted(
        (r["id"], r["part"]) for r in spark.read.parquet(path).collect()
    )

    with _crash(crash_after, (os, "rename"), (shutil, "rmtree")):
        with pytest.raises(OSError, match="injected crash"):
            compact_parquet(spark, path, path, target_file_mb=128)

    n = compact_parquet(spark, path, path, target_file_mb=128)
    assert n == 3  # one right-sized file per leaf
    got = sorted((r["id"], r["part"]) for r in spark.read.parquet(path).collect())
    assert got == want
    # no protocol leftovers, and exactly the three real partition dirs
    leaves = sorted(os.listdir(path))
    assert [d for d in leaves if "__retired" in d or "__staging" in d] == []
    assert [d for d in leaves if d.startswith("part=")] == [
        "part=0", "part=1", "part=2"
    ]


def test_partitioned_swap_dirs_invisible_to_readers(spark, tmp_path):
    """ADVICE r4 (medium): protocol dirs are DOT-PREFIXED siblings, so a
    Spark reader scanning the TABLE ROOT while a leaf's staging/retired
    dirs exist (the swap window, or a crash before the retry) sees exactly
    one copy of every row and only real partition values — never a junk
    'part=1__staging' partition or duplicated rows. (With the old
    suffix-only names, key=value__staging matched partition discovery.)"""
    import shutil

    path = str(tmp_path / "t")
    spark.range(0, 300).selectExpr(
        "id", "cast(id % 3 as int) as part"
    ).write.partitionBy("part").parquet(path)
    want = sorted(
        (r["id"], r["part"]) for r in spark.read.parquet(path).collect()
    )
    leaf = os.path.join(path, "part=1")
    # worst-case snapshot: full copies of the leaf parked at BOTH protocol
    # siblings (covers the {base,staging} and {base,retired} crash windows)
    shutil.copytree(leaf, protocol_sibling(leaf, "staging"))
    shutil.copytree(leaf, protocol_sibling(leaf, "retired"))
    got_rows = spark.read.parquet(path).collect()
    assert sorted((r["id"], r["part"]) for r in got_rows) == want
    assert {r["part"] for r in got_rows} == {0, 1, 2}


def test_recover_tree_never_descends_into_staging_dirs(tmp_path):
    """ADVICE r5 (low): os.walk sees dot-entries, so a parked retired dir
    INSIDE an abandoned half-written staging dir used to be 'restored'
    inside protocol state. recover_retired_tree must prune BOTH reserved
    suffixes (staging and retired, dot-prefixed or legacy) from descent —
    while still restoring genuine parked leaves outside protocol dirs."""
    from bytesme_etl_batch_pipeline_spark.sources.files import (
        protocol_sibling,
        recover_retired_tree,
    )

    root = tmp_path / "t"
    root.mkdir()
    # genuine mid-swap crash: leaf parked at its retired sibling, base gone
    parked = protocol_sibling(str(root / "part=0"), "retired")
    os.makedirs(os.path.join(parked, "inner"))
    open(os.path.join(parked, "f.parquet"), "w").write("x")
    # abandoned half-written staging dir containing a retired-parked dir
    staging = protocol_sibling(str(root / "part=1"), "staging")
    inner_retired = protocol_sibling(os.path.join(staging, "sub"), "retired")
    os.makedirs(inner_retired)
    open(os.path.join(inner_retired, "g.parquet"), "w").write("y")

    recover_retired_tree(str(root))

    assert os.path.isdir(root / "part=0"), "genuine parked leaf not restored"
    assert not os.path.exists(parked)
    # protocol-internal state untouched: nothing restored inside staging
    assert os.path.isdir(inner_retired), "descended into a staging dir"
    assert not os.path.exists(os.path.join(staging, "sub"))


def test_recover_restores_legacy_retired_spelling(spark, tmp_path):
    """Upgrade safety: a table parked at the LEGACY (pre-dot-prefix)
    '<base>__retired' name by a writer from before the protocol dirs went
    hidden must still be restored — treating it as a first load would
    delete the only surviving copy at publish time."""
    import shutil

    from bytesme_etl_batch_pipeline_spark.sources.files import (
        compact_parquet,
        merge_upsert_parquet,
    )

    base = str(tmp_path / "tbl")
    rows = lambda *rs: spark.createDataFrame(
        list(rs), "k long, v string, version long, deleted boolean"
    )
    merge_upsert_parquet(
        spark, base, rows((1, "a", 1, False)), ["k"], "version", "deleted"
    )
    os.rename(base, base + "__retired")  # legacy crash leftover
    n = merge_upsert_parquet(
        spark, base, rows((2, "b", 2, False)), ["k"], "version", "deleted"
    )
    assert n == 2  # the parked generation survived
    assert not os.path.exists(base + "__retired")

    # legacy PARTITION leaf leftover, exercised through the tree walk
    src = str(tmp_path / "part_tbl")
    spark.range(0, 100).selectExpr(
        "id", "cast(id % 2 as int) as part"
    ).write.partitionBy("part").parquet(src)
    want = sorted((r["id"], r["part"]) for r in spark.read.parquet(src).collect())
    os.rename(os.path.join(src, "part=1"), os.path.join(src, "part=1__retired"))
    dst = str(tmp_path / "part_dst")
    compact_parquet(spark, src, dst, target_file_mb=128)
    got = sorted((r["id"], r["part"]) for r in spark.read.parquet(dst).collect())
    assert got == want


def test_incremental_rollup_refuses_out_of_order_redelivery(spark, tmp_path):
    """ADVICE r4 (low): the applied-batch marker is a bounded LOG, not
    just the latest id — a delayed replay of batch N-2 delivered after
    N-1 applied must be refused, not double-counted."""
    from bytesme_etl_batch_pipeline_spark.operators.aggregate import (
        incremental_rollup,
    )

    state = str(tmp_path / "state")
    mk = lambda *rs: spark.createDataFrame(list(rs), "k string, v long")
    incremental_rollup(spark, state, mk(("a", 1)), keys=["k"], sum_cols=["v"],
                       batch_id="b1")
    incremental_rollup(spark, state, mk(("a", 10)), keys=["k"], sum_cols=["v"],
                       batch_id="b2")
    incremental_rollup(spark, state, mk(("a", 100)), keys=["k"], sum_cols=["v"],
                       batch_id="b3")
    # queue redrive re-delivers b1 AFTER b2/b3 applied: must be a no-op
    out = incremental_rollup(spark, state, mk(("a", 1)), keys=["k"],
                             sum_cols=["v"], batch_id="b1")
    assert {r["k"]: float(r["sum_v"]) for r in out.collect()} == {"a": 111.0}


def test_incremental_rollup_idless_delta_preserves_applied_log(spark, tmp_path):
    """ADVICE r5 (low): an id-LESS delta must carry the applied-ids log
    forward — promoting a marker-free staging dir wiped it, so the
    sequence (b1, id-less delta, b1 redelivered) double-counted b1
    despite being inside the documented horizon."""
    from bytesme_etl_batch_pipeline_spark.operators.aggregate import (
        incremental_rollup,
    )

    state = str(tmp_path / "state")
    mk = lambda *rs: spark.createDataFrame(list(rs), "k string, v long")
    incremental_rollup(spark, state, mk(("a", 1)), keys=["k"], sum_cols=["v"],
                       batch_id="b1")
    # an anonymous (no batch_id) delta — e.g. a manual backfill
    incremental_rollup(spark, state, mk(("a", 10)), keys=["k"], sum_cols=["v"])
    # b1 redelivered: must STILL be refused
    out = incremental_rollup(spark, state, mk(("a", 1)), keys=["k"],
                             sum_cols=["v"], batch_id="b1")
    assert {r["k"]: float(r["sum_v"]) for r in out.collect()} == {"a": 11.0}


def test_compact_mixed_layout_raises(spark, tmp_path):
    """Loose data files ABOVE the partition-leaf level must fail loudly:
    per-leaf compaction would silently drop them (and Spark cannot attach
    partition values to them either)."""
    import shutil

    from bytesme_etl_batch_pipeline_spark.sources.files import compact_parquet

    path = str(tmp_path / "t")
    spark.range(0, 100).selectExpr(
        "id", "cast(id % 2 as int) as part"
    ).write.partitionBy("part").parquet(path)
    # simulate a sloppy append job dropping a loose file at the table root
    loose_src = str(tmp_path / "loose")
    spark.range(100, 110).selectExpr("id", "0 as part").coalesce(1).write.parquet(
        loose_src
    )
    import glob as _glob

    (part_file,) = _glob.glob(os.path.join(loose_src, "part-*.parquet"))
    shutil.copy(part_file, os.path.join(path, "loose-00000.parquet"))

    with pytest.raises(ValueError, match="mixed layout"):
        compact_parquet(spark, path, path)
    with pytest.raises(ValueError, match="mixed layout"):
        compact_parquet(spark, path, str(tmp_path / "dst"))


def test_compact_copy_restores_parked_partition(spark, tmp_path):
    """The copy variant must restore a source partition parked at
    <leaf>__retired by a crashed earlier in-place run — otherwise the
    'compacted copy' silently omits that whole partition."""
    from bytesme_etl_batch_pipeline_spark.sources.files import compact_parquet

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    spark.range(0, 300).selectExpr(
        "id", "cast(id % 3 as int) as part"
    ).write.partitionBy("part").parquet(src)
    want = sorted((r["id"], r["part"]) for r in spark.read.parquet(src).collect())
    # simulate the mid-swap crash window on one leaf
    os.rename(
        os.path.join(src, "part=1"),
        protocol_sibling(os.path.join(src, "part=1"), "retired"),
    )

    compact_parquet(spark, src, dst, target_file_mb=128)
    got = sorted((r["id"], r["part"]) for r in spark.read.parquet(dst).collect())
    assert got == want


def test_read_csv_does_not_mutate_caller_schema(spark, tmp_path):
    """StructType.add mutates in place — corrupt_col capture must copy, or
    the CALLER's schema object permanently gains the corrupt column (and a
    duplicate of it on the next call)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from bytesme_etl_batch_pipeline_spark.sources.files import read_csv

    p = str(tmp_path / "a.csv")
    with open(p, "w") as f:
        f.write("name,n\nok,1\nbad,zzz\n")
    schema = StructType(
        [StructField("name", StringType()), StructField("n", LongType())]
    )
    for _ in range(2):  # second call would see the duplicate if mutated
        df = read_csv(spark, p, schema, corrupt_col="_bad")
        assert df.columns == ["name", "n", "_bad"]
        # full-row collect: Spark disallows querying ONLY the corrupt
        # column straight off a raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
        rows = df.collect()
        assert sum(r["_bad"] is not None for r in rows) == 1
    assert [f.name for f in schema.fields] == ["name", "n"], "caller schema mutated"


def test_read_csv_multi_line_contract(spark, tmp_path):
    """multi_line=False keeps scans splittable for newline-free CSVs (the
    100 TB single-file case); lineage requires multi-line mode and must
    say so loudly."""
    from bytesme_etl_batch_pipeline_spark.sources.files import read_csv

    p = str(tmp_path / "a.csv")
    with open(p, "w") as f:
        f.write("name,n\n" + "".join(f"r{i},{i}\n" for i in range(100)))
    assert read_csv(spark, p, multi_line=False).count() == 100
    with pytest.raises(ValueError, match="with_lineage=True requires"):
        read_csv(spark, p, with_lineage=True, multi_line=False)


def test_urllib_fetcher_returns_http_error_status(monkeypatch):
    """4xx/5xx must arrive as (status, body) like mock_fetcher — urlopen
    raises HTTPError for them, and letting it propagate would give the
    production fetcher a DIFFERENT contract (status=NULL) from the tested
    one, and discard the error body (soft-404 pages)."""
    import io
    import urllib.error
    import urllib.request

    from bytesme_etl_batch_pipeline_spark.sources.http import urllib_fetcher

    def fake_urlopen(req, timeout=None):
        raise urllib.error.HTTPError(
            req.full_url, 404, "Not Found", {}, io.BytesIO(b"soft-404 page body")
        )

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    status, body = urllib_fetcher()("http://example.invalid/x")
    assert status == 404
    assert body == "soft-404 page body"
