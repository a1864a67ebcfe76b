"""The benchmark's workloads: what one pass does and how its outputs are
checked.

A run first makes untimed warm-up passes of the same work, so JIT
compilation, the first use of each code path and the Python workers are
paid before timing starts. Then it makes timed passes while another one
still fits in ``--seconds``, at least ``min_timed_passes`` (traced runs make
exactly one). Every pass does the same work: each catalog pass clears the
engine's per-session memos (``plans.queries._LSH_EDGES_MEMO`` and the
``sources.tables`` scan memo) before it starts, and every ETL pass writes
into fresh directories. Correctness checks cover the warm-up passes too and
run after the timed passes, outside the timed region.
"""

from __future__ import annotations

import csv
import gc
import os
import statistics
import time
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

from tracing import Tracer

# A fixed sample of the query catalog: light queries, whose time is mostly
# plan construction and job scheduling, and one heavier one, streaming
# micro-batches over the events table. All return small results, so
# collecting them measures the query, not the transfer. The list is fixed,
# not drawn from the seed, so every run measures the same mix.
CATALOG_QUERIES = [
    "pricing_summary",
    "tpch_q3_shipping_priority",
    "streaming_windowed_counts",
]
CATALOG_SCALE = 0.01

# A fixed job on Spark's own API that runs none of the engine's code. Timed
# between the timed passes, it tracks how fast this shared host runs Spark
# jobs at the moment: the same pass took 2.6 s in one run and 4.7 s in
# another minutes earlier, and the reference moved with it.
REFERENCE_ROWS = 300_000
REFERENCE_RUNS = 5

LANDING_SITES = 1
LANDING_ROWS = 400
SEARCHES_PER_PASS = 1
SEARCH_K = 10
REFERENCE_STAGES = ["remove_duplicates", "standardize_categories", "generate_mock_data"]
SEARCH_WORDS = ["bánh", "kem", "trà", "đào", "cà", "phê", "xoài", "socola", "matcha",
                "cookie", "sữa", "chua", "mousse", "bingsu", "dâu", "cold-brew"]


@dataclass
class Op:
    """One timed operation: a catalog query, an ETL lifecycle or a search."""
    op_id: str
    kind: str  # query | etl | search
    name: str
    seconds: float = 0.0
    error: str | None = None
    ok: bool = True
    extra: dict = field(default_factory=dict)


@dataclass
class PassResult:
    seconds: float
    ops: list[Op]
    timed: bool = True


class Workload:
    # after one warm-up pass the timed passes still get faster, by 10-30%
    # from the first to the third
    warmup_passes = 2
    # a burst of outside load can double one operation's time; the median of
    # three timed runs of an operation drops it
    min_timed_passes = 3

    def __init__(self, spark, data_dir: str, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.tracer: Tracer | None = None  # set for the timed pass of a traced run
        self.passes: list[PassResult] = []  # the warm-up passes, then the timed ones
        self.warming = False
        self.pinned_max = 0
        self.reference_s: list[float] = []

    def phase(self, op_id: str, phase: str) -> None:
        # warm-up jobs get a phase of their own, which no per-layer metric counts
        self.spark.sparkContext.setJobGroup(f"{op_id}:{'warmup' if self.warming else phase}", phase)

    def span(self, name: str, op: str | None = None):
        return nullcontext() if self.tracer is None else self.tracer.span(name, op)

    def _pass(self, tag: str, timed: bool) -> PassResult:
        start = time.perf_counter()
        ops = self.one_pass(tag)
        res = PassResult(time.perf_counter() - start, ops, timed)
        self.passes.append(res)
        gc.collect()
        return res

    def warm_up(self) -> None:
        """``warmup_passes`` untimed passes of the same work as a timed one."""
        self.warming = True
        try:
            for i in range(self.warmup_passes):
                self._pass(f"w{i}", timed=False)
        finally:
            self.warming = False
        self.reference()  # its first runs are cold
        self.reference_s.clear()

    def reference(self) -> None:
        """Time the reference job ``REFERENCE_RUNS`` times."""
        sc = self.spark.sparkContext
        sc.setJobGroup("reference:reference", "reference")
        for _ in range(REFERENCE_RUNS):
            t = time.perf_counter()
            self.spark.range(REFERENCE_ROWS).selectExpr("id % 97 AS k", "id * 3 AS v").groupBy(
                "k").sum("v").collect()
            self.reference_s.append(time.perf_counter() - t)
        sc.setJobGroup("none:idle", "idle")

    def run(self, seconds: float, max_passes: int | None = None) -> None:
        """Timed passes while the next one still fits in ``seconds``, at
        least ``min_timed_passes`` of them, with the reference job timed
        before the first and after each one."""
        self.reference()
        t0 = time.perf_counter()
        while True:
            n = len(self.timed_passes())
            last = self._pass(f"p{n}", timed=True)
            self.reference()
            if max_passes is not None and n + 1 >= max_passes:
                break
            if n + 1 >= self.min_timed_passes and time.perf_counter() - t0 + last.seconds > seconds:
                break

    def timed_passes(self) -> list[PassResult]:
        return [p for p in self.passes if p.timed]

    def typical_pass_s(self) -> float:
        """Seconds of one timed pass with each of its operations at its
        median over the timed passes: a burst of outside load in one pass
        moves the medians less than it moves that pass's wall time."""
        slots: dict[str, list[float]] = defaultdict(list)
        for p in self.timed_passes():
            for op in p.ops:
                slots[op.op_id.split(".", 1)[1]].append(op.seconds)
        return sum(statistics.median(v) for v in slots.values())

    def ops(self) -> list[Op]:
        return [op for p in self.passes for op in p.ops]

    def timed_op(self, op: Op, fn) -> None:
        """Run ``fn`` as one timed operation; an exception is recorded as a
        failed operation and the run goes on."""
        t = time.perf_counter()
        try:
            with self.span(op.kind, op.op_id):
                fn(op)
        except Exception as e:  # a failed operation is data, not a crash
            op.error = f"{type(e).__name__}: {str(e)[:300]}"
            op.ok = False
        op.seconds = time.perf_counter() - t
        self.spark.sparkContext.setJobGroup("none:idle", "idle")
        if self.tracer is not None:
            pinned = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            self.pinned_max = max(self.pinned_max, int(pinned))


class _Collected:
    """A collected query result with the DataFrame surface ``tests.oracle``
    reads (``collect``, ``columns``, ``schema``)."""

    def __init__(self, df, rows):
        self.columns, self.schema, self._rows = df.columns, df.schema, rows

    def collect(self):
        return self._rows


class CatalogWorkload(Workload):
    """Fixed catalog sample; one operation = plan build + ``collect()``."""

    def one_pass(self, tag: str) -> list[Op]:
        from bytesme_etl_batch_pipeline_spark.plans import queries as catalog
        from bytesme_etl_batch_pipeline_spark.sources import tables

        # each pass starts with the engine's memos empty
        catalog._LSH_EDGES_MEMO.clear()
        tables._clear_scan_memo()
        return [self._query(catalog, f"{tag}.{name}", name) for name in CATALOG_QUERIES]

    def _query(self, catalog, op_id: str, name: str) -> Op:
        op = Op(op_id, "query", name)

        def body(op):
            self.phase(op.op_id, "build")
            with self.span("build"):
                df = catalog.SPARK_QUERIES[name](self.spark, self.data_dir)
            self.phase(op.op_id, "action")
            with self.span("action"):
                op.extra["result"] = _Collected(df, df.collect())

        self.timed_op(op, body)
        gc.collect()
        return op

    def check(self) -> None:
        """The first result of each query against its DuckDB oracle (values),
        or through ``rows_only_canon`` for a query without one; every later
        execution must return the same rows."""
        from bytesme_etl_batch_pipeline_spark.plans import queries as catalog
        from tests.oracle import compare, duckdb_con, fingerprint, rows_only_canon

        con = duckdb_con(self.data_dir)
        first: dict[str, list[str] | None] = {}  # name -> fingerprint of a checked result
        for op in self.ops():
            if op.error is not None:
                continue
            res = op.extra["result"]
            if op.name not in first:
                try:
                    if op.name in catalog.ORACLE_SQL:
                        r = compare(res, con, catalog.ORACLE_SQL[op.name])
                        good = r["rows_match"] and r["cols_match"] and r["values_match"]
                    else:
                        rows_only_canon(res)
                        good = True
                except Exception:  # a check that cannot run fails the query
                    good = False
                first[op.name] = fingerprint(res.columns, res.collect()) if good else None
            op.ok = first[op.name] is not None and (
                fingerprint(res.columns, res.collect()) == first[op.name]
            )
            del op.extra["result"]
        con.close()


class EtlWorkload(Workload):
    """The reference lifecycle on a raw landing, then a closed loop of one
    client issuing product searches."""

    def __init__(self, spark, data_dir: str, seed: int):
        super().__init__(spark, data_dir, seed)
        self.search_texts = search_texts(seed, SEARCHES_PER_PASS)
        self.landing = os.path.join(data_dir, "landing")
        self.landing_rows = 0
        for f in sorted(os.listdir(self.landing)):
            with open(os.path.join(self.landing, f), encoding="utf-8", newline="") as fh:
                self.landing_rows += sum(1 for _ in csv.reader(fh)) - 1
        self.pipeline_reports = []

    def one_pass(self, tag: str) -> list[Op]:
        return self._lifecycle(tag, self.landing, self.search_texts)

    def _lifecycle(self, tag: str, landing: str, texts: list[str]) -> list[Op]:
        from pyspark.sql import functions as F

        out = os.path.join(self.data_dir, f"out_{tag}")
        op = Op(f"{tag}.etl", "etl", "etl", extra={"out": out})
        self.timed_op(op, lambda op: self.etl(op, landing, out))
        ops = [op]
        if op.error is not None:
            return ops
        emb = self.spark.read.parquet(os.path.join(out, "embeddings"))
        facts = self.spark.read.parquet(os.path.join(out, "facts")).select(
            "fact_id", "product_name", "product_url"
        )
        for i, text in enumerate(texts):
            s = Op(f"{tag}.search{i}", "search", text)

            def body(s, text=text):
                self.phase(s.op_id, "search")
                s.extra["rows"] = self.search(emb, facts, text, F)

            self.timed_op(s, body)
            ops.append(s)
        return ops

    def etl(self, op: Op, landing: str, out: str) -> None:
        from pyspark.sql import functions as F

        from bytesme_etl_batch_pipeline_spark.operators.embed import embed_column
        from bytesme_etl_batch_pipeline_spark.operators.normalize import snowflake_split
        from bytesme_etl_batch_pipeline_spark.operators.template import product_document
        from bytesme_etl_batch_pipeline_spark.plans.pipeline import (
            register_reference_stages,
            run_pipeline,
        )
        from bytesme_etl_batch_pipeline_spark.schemas import RAW_PRODUCTS
        from bytesme_etl_batch_pipeline_spark.sources.files import read_csv, write_parquet

        spark = self.spark
        register_reference_stages()
        self.phase(op.op_id, "pipeline")
        with self.span("pipeline"):
            inputs = {
                f: read_csv(spark, os.path.join(landing, f), schema=RAW_PRODUCTS,
                            with_lineage=True)
                for f in sorted(os.listdir(landing))
            }
            outputs, report = run_pipeline(inputs, REFERENCE_STAGES + ["checkpoint"])
        if not self.warming:
            self.pipeline_reports.append(report)
        errors = [r for r in report.results if r.status != "success"]
        if errors:
            raise RuntimeError(f"pipeline input {errors[0].input_name}: {errors[0].error}")
        self.phase(op.op_id, "split")
        wide = None
        for df in outputs.values():
            wide = df if wide is None else wide.unionByName(df)
        split = snowflake_split(
            wide,
            dim_key="category_name",
            dim_attrs=["product_brand"],
            fact_key="product_url",
            child_url_col="product_image",
            child_name_col="product_image_name",
            order_by=["product_url"],
        )
        self.phase(op.op_id, "write")
        for name in ("dims", "facts", "children"):
            with self.span("sources.write"):
                write_parquet(getattr(split, name), os.path.join(out, name))
        report.free_barriers(spark)
        self.phase(op.op_id, "embed")
        facts = spark.read.parquet(os.path.join(out, "facts"))
        docs = facts.select(
            "fact_id",
            product_document(
                name=F.col("product_name"),
                brand=F.col("product_brand"),
                category=F.col("category_name"),
                description=F.col("product_description"),
                price=F.col("price_num"),
                stars=F.col("product_overall_stars"),
                orders=F.col("product_total_orders"),
                stock=F.col("product_stock_quantity"),
            ).alias("document"),
        )
        emb = docs.select("fact_id", embed_column(F.col("document")).alias("embedding"))
        with self.span("sources.write"):
            write_parquet(emb, os.path.join(out, "embeddings"))

    def search(self, emb, facts, text: str, F) -> list[tuple]:
        """Top-k products for one search text, joined back to their names."""
        from bytesme_etl_batch_pipeline_spark.operators.embed import embed_column
        from bytesme_etl_batch_pipeline_spark.operators.similarity import topk_brute_force

        query = self.spark.createDataFrame([(text,)], ["qtext"]).select(
            embed_column(F.col("qtext")).alias("q")
        )
        top = topk_brute_force(emb, query, k=SEARCH_K, id_col="fact_id")
        hits = top.join(facts, "fact_id").select("fact_id", "product_name", "score")
        rows = hits.orderBy(F.col("score").desc(), "fact_id").collect()
        return [(r["fact_id"], r["product_name"], r["score"]) for r in rows]

    def check(self) -> None:
        """Invariants on every pass's tables, embeddings and searches."""
        import pyarrow.parquet as pq

        from bytesme_etl_batch_pipeline_spark.operators.embed import HashEmbedder

        expected_pairs, expected_children = landing_truth(self.landing)
        embedder = HashEmbedder()
        for res in self.passes:
            etl = res.ops[0]
            if etl.error is not None:
                for op in res.ops:
                    op.ok = False
                continue
            out = etl.extra["out"]
            f = pq.read_table(os.path.join(out, "facts"),
                              columns=["fact_id", "product_name", "product_url", "dim_id"]).to_pydict()
            dims = pq.read_table(os.path.join(out, "dims")).to_pydict()
            kids = pq.read_table(os.path.join(out, "children")).to_pydict()
            emb = pq.read_table(os.path.join(out, "embeddings")).to_pydict()
            pairs = list(zip(f["product_name"], f["product_url"]))
            url_of = dict(zip(f["fact_id"], f["product_url"]))
            dim_ids = set(dims["dim_id"])
            children = sorted(
                (url_of.get(i), u, n)
                for i, u, n in zip(kids["fact_id"], kids["item_url"], kids["item_name"])
            )
            vecs = np.array(emb["embedding"], dtype=np.float64)
            norms = np.linalg.norm(vecs, axis=1)
            checks = {
                "facts_hold_distinct_pairs": len(pairs) == len(set(pairs)) and set(pairs) == expected_pairs,
                "facts_resolve_category": all(d is not None and d in dim_ids for d in f["dim_id"]),
                "children_match_piped_lists": children == expected_children,
                "embeddings_unit_norm": len(norms) == len(pairs) and bool(np.all(np.abs(norms - 1.0) < 1e-4)),
            }
            etl.extra["checks"] = checks
            etl.ok = all(checks.values())
            for op in res.ops[1:]:
                if op.error is None:
                    try:
                        op.ok = search_ok(op.extra["rows"], vecs, norms, emb["fact_id"],
                                          embedder, op.name)
                    except Exception as e:  # a check that cannot run fails the search
                        op.ok, op.error = False, f"check: {type(e).__name__}: {e}"


def search_texts(seed: int, n: int) -> list[str]:
    """``n`` seeded search texts of two or three product words."""
    from bytesme_etl_batch_pipeline_spark.operators.embed import HashEmbedder

    rng = np.random.default_rng([seed, 3])
    embedder = HashEmbedder()
    texts: list[str] = []
    while len(texts) < n:
        text = " ".join(rng.choice(SEARCH_WORDS, int(rng.integers(2, 4)), replace=False))
        # two words can hash to one component with opposite signs; a zero
        # query vector has no cosine score, so such a text is not a search
        if any(embedder.encode([text])[0]):
            texts.append(text)
    return texts


def search_ok(rows, vecs, norms, ids, embedder, text: str) -> bool:
    """k rows in score order whose scores are the k best cosine scores over
    all embeddings, recomputed in NumPy (scores rounded to 6 places as the
    engine rounds them; ties may pick different ids, so ids are only
    required to exist)."""
    q = np.array(embedder.encode([text])[0], dtype=np.float64)
    scores = np.round(vecs @ q / (norms * np.linalg.norm(q)), 6)
    best = np.sort(scores)[::-1][:SEARCH_K]
    got = [r[2] for r in rows]
    return (
        len(got) == SEARCH_K
        and None not in got
        and all(a >= b for a, b in zip(got, got[1:]))
        and bool(np.all(np.abs(np.array(got) - best) <= 2e-6))
        and {r[0] for r in rows} <= set(ids)
    )


def landing_truth(landing: str) -> tuple[set, list]:
    """Distinct (name, url) pairs and the expected image children, read
    straight from the landing CSVs: the first row of each pair, its piped
    image list, and names falling back to the product url when empty."""
    pairs: set = set()
    children: list = []
    for fname in sorted(os.listdir(landing)):
        with open(os.path.join(landing, fname), encoding="utf-8", newline="") as fh:
            for row in csv.DictReader(fh):
                key = (row["product_name"], row["product_url"])
                if key in pairs:
                    continue
                pairs.add(key)
                names = row["product_image_name"].split("|")
                for j, u in enumerate(row["product_image"].split("|")):
                    n = names[j] if j < len(names) else ""
                    children.append((row["product_url"], u, n or row["product_url"]))
    return pairs, sorted(children)


WORKLOADS = {"bytesme_etl": EtlWorkload, "catalog_sf001": CatalogWorkload}
