"""Config-driven pipeline runner (SURVEY §2.15, §3.1).

The reference dispatches transform names from YAML over each raw file with
per-file try/except and a success/error summary
(``scripts/pipeline.py:17-112``, ``utils/etl_config.yml:6-10``). Engine
shape: a declarative spec — ordered named stages, each a pure
``DataFrame -> DataFrame`` — composed into ONE lazy DAG per input (Catalyst
sees the whole plan; nothing materializes between stages unless the config
says so via the built-in ``persist``/``checkpoint`` barrier stages), with
per-input isolation and a job report.

Unlike the reference (module-level mutable state, mid-pipeline staging-dir
read — SURVEY §2.15 hazards), stages are pure and the DAG is explicit.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

Stage = Callable[[DataFrame], DataFrame]

# Named stage registry — the engine twin of the reference's string-dispatched
# transform names (``scripts/pipeline.py:52-83``).
STAGES: dict[str, Stage] = {}


def _materialize_stage(spec: str) -> Stage | None:
    """Built-in materialization barriers, usable by name in any stage list.

    The stages themselves compose into ONE lazy DAG, which is right until a
    stage's output feeds multiple downstream scans (the dedup family
    re-reads its corpus 3-5×) — then the pipeline AUTHOR owns the
    CPU-vs-storage tradeoff, declared in config rather than baked into
    operators:

    * ``persist`` / ``persist:memory`` / ``persist:disk`` — lazy
      ``.persist`` at the matching StorageLevel; the first action
      populates the cache, later branches reuse it. Spark evicts under
      pressure and ContextCleaner frees it when the frame is dropped.
    * ``checkpoint`` — eager ``localCheckpoint``: materializes NOW and
      truncates lineage, the right barrier before iterative consumers
      (CC loops) or when a long plan would otherwise replay per branch.
      NB: ``localCheckpoint`` pins blocks at the RDD level for the life
      of the SparkContext (``DataFrame.unpersist`` is a no-op on it —
      ``ckpt.py``), so the runner tracks the pinned ids itself: a later
      ``checkpoint`` stage in the same input's chain frees the superseded
      one, the error path frees everything, and the FINAL checkpoint per
      input (which the returned output reads lazily) is recorded in
      ``PipelineReport.pinned_rdd_ids`` for ``report.free_barriers(spark)``
      once the caller is done with the outputs. A long-lived session
      re-running the pipeline must call it or leak one table-sized block
      set per run.
    """
    from pyspark import StorageLevel

    levels = {
        "persist": StorageLevel.MEMORY_AND_DISK,
        "persist:memory": StorageLevel.MEMORY_ONLY,
        "persist:disk": StorageLevel.DISK_ONLY,
    }
    if spec in levels:
        return lambda df: df.persist(levels[spec])
    # "checkpoint" is handled inline by run_pipeline (it must thread the
    # pinned-RDD bookkeeping); kept out of STAGES so the name still resolves.
    return None


def register_stage(name: str) -> Callable[[Stage], Stage]:
    def deco(fn: Stage) -> Stage:
        STAGES[name] = fn
        return fn

    return deco


@dataclass
class StageResult:
    input_name: str
    status: str  # success | error
    stages: list[str]
    rows_out: int | None
    seconds: float
    error: str | None = None


@dataclass
class PipelineReport:
    results: list[StageResult] = field(default_factory=list)
    #: input name -> RDD ids pinned by that input's FINAL ``checkpoint``
    #: barrier (the returned output reads them lazily — they cannot be
    #: freed inside the run). Call ``free_barriers(spark)`` when done
    #: with the outputs.
    pinned_rdd_ids: dict[str, list[int]] = field(default_factory=dict)

    def free_barriers(self, spark) -> None:
        """Release every block set the run's ``checkpoint`` barriers left
        pinned. Call ONLY after the returned output DataFrames will never
        be touched again (their lineage was truncated to these blocks)."""
        from ..ckpt import free_checkpoint

        for ids in self.pinned_rdd_ids.values():
            free_checkpoint(spark, ids)
        self.pinned_rdd_ids.clear()

    @property
    def n_success(self) -> int:
        return sum(1 for r in self.results if r.status == "success")

    @property
    def n_error(self) -> int:
        return sum(1 for r in self.results if r.status == "error")

    def summary(self) -> dict:
        return {
            "total": len(self.results),
            "success": self.n_success,
            "error": self.n_error,
        }


def run_pipeline(
    inputs: dict[str, DataFrame],
    stage_names: list[str],
    sink: Callable[[str, DataFrame], None] | None = None,
    on_error: Callable[[str, str], None] | None = None,
) -> tuple[dict[str, DataFrame], PipelineReport]:
    """Apply the configured stages to each input with per-input isolation
    (reference ``pipeline.py:94-111``): one input failing does not stop the
    rest; the report carries per-input status and timing.

    Stages compose lazily — the only actions are the sink (or a count when
    no sink is given, mirroring the reference's per-file summary). When the
    last stage is ``checkpoint``, its own job counts the rows through an
    ``Observation``, so no separate count job runs.

    ``on_error(input_name, message)`` is the injectable alert hook — the
    engine twin of the reference's Discord-webhook-on-error
    (``utils/helpers.py:11-22``): production wires a webhook/pager client,
    tests inject a recorder; a notifier that itself raises is swallowed so
    alerting failures can never mask the original error.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ..ckpt import free_checkpoint, tracked_local_checkpoint

    report = PipelineReport()
    outputs: dict[str, DataFrame] = {}
    for name, df in inputs.items():
        t0 = time.perf_counter()
        held: list[int] = []  # blocks pinned by this input's barriers
        try:
            out = df
            counted = None  # filled by the final checkpoint's own job
            for i, sname in enumerate(stage_names):
                if sname == "checkpoint":
                    if sink is None and i == len(stage_names) - 1:
                        counted = Observation()
                        out = out.observe(counted, F.count(F.lit(1)).alias("rows"))
                    # tracked form: a later barrier supersedes this one's
                    # blocks (the chain is linear), so free them then —
                    # bare localCheckpoint would pin one table-sized block
                    # set per barrier for the life of the SparkContext.
                    out, new_ids = tracked_local_checkpoint(out)
                    if held:
                        free_checkpoint(out.sparkSession, held)
                    held = new_ids
                    continue
                stage = STAGES.get(sname) or _materialize_stage(sname)
                if stage is None:
                    raise KeyError(f"unknown stage: {sname!r}")
                out = stage(out)
            if sink is not None:
                sink(name, out)
                rows = None
            elif counted is not None:
                rows = counted.get["rows"]
            else:
                rows = out.count()
            outputs[name] = out
            if held:  # final barrier: the returned output reads it lazily
                report.pinned_rdd_ids[name] = held
            report.results.append(
                StageResult(name, "success", stage_names, rows, time.perf_counter() - t0)
            )
        except Exception as e:  # per-input isolation — error is data, not crash
            if held:  # no output escapes this input — its blocks are dead
                free_checkpoint(df.sparkSession, held)
            report.results.append(
                StageResult(
                    name, "error", stage_names, None, time.perf_counter() - t0, str(e)
                )
            )
            if on_error is not None:
                try:
                    on_error(name, str(e))
                except Exception:
                    pass  # alerting must never mask the pipeline error
    return outputs, report


def load_config(path: str) -> dict:
    """Load a pipeline spec (reference ``utils/etl_config.yml:6-10``):

    .. code-block:: yaml

        pipeline:
          stages: [standardize_categories, remove_duplicates, ...]
          input_glob: data/raw/*.csv

    YAML when available; JSON as the dependency-free fallback.
    """
    text = open(path).read()
    try:
        import yaml

        return yaml.safe_load(text)
    except ImportError:  # pragma: no cover
        import json

        return json.loads(text)


def register_reference_stages() -> list[str]:
    """Register the reference's YAML transform names
    (``utils/etl_config.yml:6-10``: remove_duplicates,
    standardize_categories, generate_mock_data, seperate_tables — sic) with
    their engine compositions over the RAW_PRODUCTS frame, so a reference
    user's config runs unchanged. Idempotent; returns the names.

    Order dependencies mirror the reference: ``generate_mock_data`` expects
    ``category_name`` (run after ``standardize_categories``);
    ``seperate_tables`` is terminal and yields the facts frame (dims/children
    come from ``operators.normalize.snowflake_split`` directly when all
    three outputs are needed).
    """
    from pyspark.sql import functions as F

    from ..operators.categorize import (
        BYTESME_RULES,
        BYTESME_SPECIAL_CASES,
        standardize_categories,
    )
    from ..operators.dedup import dedup_keep_first
    from ..operators.enrich import enrich_products
    from ..operators.normalize import snowflake_split

    names = [
        "remove_duplicates",
        "standardize_categories",
        "generate_mock_data",
        "seperate_tables",
    ]
    if all(n in STAGES for n in names):
        return names

    @register_stage("remove_duplicates")
    def _dedup(df: DataFrame) -> DataFrame:
        # reference drop_duplicates keeps the first row in FILE order.
        # dedup_keep_first needs an order that is unique WITHIN each key
        # group (SURVEY §7 hard part 2) — the dedup keys themselves are
        # constant there, so use the reader's lineage columns when present
        # (true file order), else every non-key column (deterministic
        # lexicographic winner).
        keys = ["product_name", "product_url"]
        if {"source_file", "row_pos"} <= set(df.columns):
            order = ["source_file", "row_pos"]
        else:
            order = sorted(c for c in df.columns if c not in keys)
        return dedup_keep_first(df, keys=keys, order_by=order)

    @register_stage("standardize_categories")
    def _categorize(df: DataFrame) -> DataFrame:
        return standardize_categories(
            df,
            "product_name",
            "original_category",
            BYTESME_RULES,
            BYTESME_SPECIAL_CASES,
        )

    @register_stage("generate_mock_data")
    def _enrich(df: DataFrame) -> DataFrame:
        return enrich_products(
            df.withColumn("price_num", F.col("product_unit_price").try_cast("long")),
            key_col="product_url",
            brand_col="product_brand",
            category_col="category_name",
            price_col="price_num",
        )

    @register_stage("seperate_tables")
    def _split(df: DataFrame) -> DataFrame:
        return snowflake_split(
            df,
            dim_key="category_name",
            dim_attrs=["product_brand"],
            fact_key="product_url",
            child_url_col="product_image",
            child_name_col="product_image_name",
            order_by=["product_url"],
        ).facts

    return names
