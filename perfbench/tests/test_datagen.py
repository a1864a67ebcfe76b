import hashlib
import os

import pyarrow.parquet as pq

import datagen


def _digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_landing_same_seed_same_bytes(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows_a = datagen.write_landing(str(a), 700, seed=5)
    datagen.write_landing(str(b), 700, seed=5)
    datagen.write_landing(str(c), 700, seed=6)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert len(rows_a) == len(datagen.SITES)
    assert len(datagen.write_landing(str(tmp_path / "d"), 300, seed=5, sites=3)) == 3


def test_landing_has_exact_duplicates_within_each_site(tmp_path):
    import csv

    datagen.write_landing(str(tmp_path), 1400, seed=1, dup_frac=0.15)
    for name in os.listdir(tmp_path):
        with open(tmp_path / name, encoding="utf-8", newline="") as f:
            rows = [tuple(r) for r in csv.reader(f)][1:]
        assert len(rows) == 200
        assert len(rows) - len(set(rows)) == 30


def test_catalog_same_seed_same_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    sizes = datagen.write_catalog_tables(str(a), 0.001, seed=3)
    datagen.write_catalog_tables(str(b), 0.001, seed=3)
    assert _digest(a) == _digest(b)
    for table, n in sizes.items():
        assert pq.ParquetFile(a / f"{table}.parquet").metadata.num_rows == n
        assert pq.ParquetFile(a / f"{table}.parquet").metadata.num_row_groups == 1


def test_search_texts_are_seeded_and_have_a_cosine_score():
    from bytesme_etl_batch_pipeline_spark.operators.embed import HashEmbedder

    from workloads import search_texts

    assert search_texts(7, 5) == search_texts(7, 5)
    embedder = HashEmbedder()
    for seed in range(300):  # seed 103 draws a text whose words cancel out
        assert all(any(v) for v in embedder.encode(search_texts(seed, 5)))
