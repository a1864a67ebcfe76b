"""Seeded input generators for the benchmark.

Two kinds of input, both pure functions of ``seed`` (same seed, same bytes):

* ``write_catalog_tables`` — the ten tables the query catalog reads
  (TPC-H-ish star schema plus ``events``, ``documents`` and ``embeddings``),
  one single-row-group Parquet file each, with the column types, value
  domains and vocabularies of the tables in TESTDATA.md. ``scale`` follows the
  testdata's scale factor (0.01 -> 60,000 lineitem rows).
* ``write_landing`` — a raw scrape landing in the reference's wide product
  shape (FIXTURES.md section 1): one CSV per site, exact duplicate rows
  inside each site file, every category tier, all three price shapes and
  pipe-delimited image lists with and without names.

Only NumPy, PyArrow and the standard library are used, so inputs can be
made before (and without) a Spark session.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_VOCAB = (
    "a the data spark query table row column join hash scan filter sort agg "
    "group window stream batch merge key value part order line customer "
    "vector big small fast slow"
).split()
PART_ADJ = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "widget", "gizmo", "anvil"]
P_TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400 * 1_000_000


def catalog_sizes(scale: float) -> dict[str, int]:
    """Row counts per table at a testdata scale factor (sf0.01 = 60k lineitem)."""
    k = scale / 0.01
    return {
        "customer": int(1500 * k),
        "supplier": max(10, int(100 * k)),
        "part": int(2000 * k),
        "orders": int(15000 * k),
        "lineitem": int(60000 * k),
        "events": int(10000 * k),
        "users": max(10, int(150 * k)),
        "documents": max(500, int(500 * k / 10) * 10),
        "embeddings": max(500, int(200 * k / 10) * 10),
    }


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=max(1, table.num_rows))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Random-word documents; about 5% are an earlier document plus ' dup'
    (the near-duplicates the dedup and similarity queries look for)."""
    words = np.array(DOC_VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    return texts


def write_catalog_tables(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write the ten catalog tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = catalog_sizes(scale)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), os.path.join(out_dir, "region.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(out_dir, "nation.parquet"))

    nc = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    }), os.path.join(out_dir, "customer.parquet"))

    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }), os.path.join(out_dir, "supplier.parquet"))

    npart = n["part"]
    keys = np.arange(npart)
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    }), os.path.join(out_dir, "part.parquet"))

    no = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    }), os.path.join(out_dir, "orders.parquet"))

    nl = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": EPOCH_1995 + rng.integers(1, 2499, nl) * DAY_US,
    }), os.path.join(out_dir, "lineitem.parquet"))

    ne = n["events"]
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, ne)),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(np.minimum(rng.exponential(60.0, ne), 560.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }), os.path.join(out_dir, "events.parquet"))

    nd = n["documents"]
    texts = _docs(rng, nd)
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.standard_normal((10, 64))
    vecs = 0.15 * centroids[labels] + rng.standard_normal((nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {k: v for k, v in n.items() if k != "users"}


# --- raw scrape landing (FIXTURES.md section 1) ----------------------------

SITES = ["bingsu", "cake", "givral", "highlands", "savor", "tous", "abby"]
# every tier of the category cascade: exact-map hits, the 'khác' fallback,
# the multi-valued special case, and values that match nothing
CATEGORIES = [
    "cakes", "bánh kem bơ", "bánh mì", "donuts", "trung thu", "cookies",
    "pudding", "set bánh", "cold-brew", "tra-sua", "chocolate-1",
    "da-xay-frosty-1", "bingsu", "topping thêm", "khác",
    "bánh tiệc - bánh sinh nhật", "không rõ", "seasonal special",
]
NAME_HEAD = ["Bánh kem", "Trà", "Cà phê", "Bánh mì", "Bingsu", "Cookie",
             "Sữa chua", "Mousse", "Cold-Brew", "Set quà"]
NAME_TAIL = ["dâu", "đào", "xoài", "socola", "matcha", "vani", "phô mai",
             "cam", "dừa", "Chef's (đặc biệt)", "#1", "sữa"]
RAW_HEADER = [
    "product_name", "product_url", "product_brand", "original_category",
    "product_image", "product_image_type", "product_image_name",
    "product_code", "product_description", "product_unit_price",
    "product_currency", "product_discount_percentage", "product_total_orders",
    "product_stock_quantity", "product_total_ratings", "product_overall_stars",
]


def _price(rng: np.random.Generator) -> str:
    r = rng.random()
    if r < 0.1:
        return "0"
    if r < 0.3:
        base = int(rng.integers(30, 90)) * 1000
        prices = "|".join(str(base + 5000 * i) for i in range(3))
        return f"{{'product_sizes': 'S|M|L', 'product_prices': '{prices}'}}"
    return str(int(rng.integers(20, 200)) * 1000)


def _raw_row(rng: np.random.Generator, site: str, i: int) -> list[str]:
    name = f"{NAME_HEAD[rng.integers(len(NAME_HEAD))]} {NAME_TAIL[rng.integers(len(NAME_TAIL))]} {i}"
    url = f"https://{site}.example.vn/p/{i}"
    n_img = int(rng.integers(1, 4))
    images = "|".join(f"https://img.{site}.example.vn/{i}/{j}.jpg" for j in range(n_img))
    if rng.random() < 0.3:
        image_names = ""
    else:
        # some entries empty: the child row falls back to the product url
        image_names = "|".join("" if rng.random() < 0.2 else f"ảnh {j}" for j in range(n_img))
    stock_bucket = rng.integers(4)
    stock = [0, int(rng.integers(1, 21)), int(rng.integers(21, 101)), int(rng.integers(101, 300))][stock_bucket]
    discount = 0.0 if rng.random() < 0.5 else round(float(rng.uniform(5, 50)), 1)
    return [
        name,
        url,
        site.capitalize(),
        CATEGORIES[rng.integers(len(CATEGORIES))],
        images,
        "1",
        image_names,
        "",
        "" if rng.random() < 0.3 else f"Mô tả sản phẩm {name}, thơm ngon.",
        _price(rng),
        "₫",
        str(discount),
        str(int(rng.integers(0, 500))),
        str(stock),
        str(int(rng.exponential(40)) + 1),
        str(round(float(rng.uniform(1.0, 5.0)), 1)),
    ]


def write_landing(out_dir: str, rows: int, seed: int, sites: int = len(SITES),
                  dup_frac: float = 0.15) -> dict[str, int]:
    """Write one CSV for each of the first ``sites`` sites, totalling about
    ``rows`` raw rows, of which ``dup_frac`` are exact copies of another row
    of the same file. Returns rows written per site file name."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    per_site = rows // sites
    written: dict[str, int] = {}
    for s, site in enumerate(SITES[:sites]):
        n_dups = int(per_site * dup_frac)
        base = [_raw_row(rng, site, s * 1_000_000 + i) for i in range(per_site - n_dups)]
        rows_out = list(base)
        for src in rng.integers(0, len(base), n_dups):
            rows_out.insert(int(rng.integers(0, len(rows_out) + 1)), list(base[src]))
        name = f"{site}_products.csv"
        with open(os.path.join(out_dir, name), "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(RAW_HEADER)
            w.writerows(rows_out)
        written[name] = len(rows_out)
    return written
