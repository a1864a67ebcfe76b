"""Config-driven pipeline runner (SURVEY §2.15, §3.1).

The reference dispatches transform names from YAML over each raw file with
per-file try/except and a success/error summary
(``scripts/pipeline.py:17-112``, ``utils/etl_config.yml:6-10``). Engine
shape: a declarative spec — ordered named stages, each a pure
``DataFrame -> DataFrame`` — composed into ONE lazy DAG per input (Catalyst
sees the whole plan; nothing materializes between stages unless the config
says so with the built-in ``checkpoint`` barrier stage), with per-input
isolation and a job report.

Unlike the reference (module-level mutable state, mid-pipeline staging-dir
read — SURVEY §2.15 hazards), stages are pure and the DAG is explicit.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..ckpt import materialize, release

Stage = Callable[[DataFrame], DataFrame]

# Named stage registry — the engine twin of the reference's string-dispatched
# transform names (``scripts/pipeline.py:52-83``).
STAGES: dict[str, Stage] = {}


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
    #: input name -> that input's final ``checkpoint`` barrier, which the
    #: returned output reads. Call ``free_barriers(spark)`` when done
    #: with the outputs.
    barriers: dict[str, DataFrame] = field(default_factory=dict)

    def free_barriers(self, spark) -> None:
        """Release the blocks the run's final ``checkpoint`` barriers hold.
        Call only once the returned outputs will not be read again. The
        barrier frames know their own blocks; ``spark`` is not read."""
        for df in self.barriers.values():
            release(df)
        self.barriers.clear()

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
    no sink is given, mirroring the reference's per-file summary). The
    ``checkpoint`` stage name is a barrier: ``ckpt.materialize`` runs the
    plan so far once, for every later stage and action to read. A later
    barrier or a failure releases it; the last one is kept in
    ``report.barriers`` until ``report.free_barriers``. When the last stage
    is ``checkpoint``, its own job counts the rows through an
    ``Observation``, so no separate count job runs.

    An error message starts with where the failure surfaced: the stage
    being applied (``stage 'name': ...``) or, for a failure that only
    shows when the plan runs, the action (``checkpoint``, ``sink`` or
    ``count``).

    ``on_error(input_name, message)`` is the injectable alert hook — the
    engine twin of the reference's Discord-webhook-on-error
    (``utils/helpers.py:11-22``): production wires a webhook/pager client,
    tests inject a recorder; a notifier that itself raises is swallowed so
    alerting failures can never mask the original error.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    report = PipelineReport()
    outputs: dict[str, DataFrame] = {}
    for name, df in inputs.items():
        t0 = time.perf_counter()
        held = None  # this input's latest barrier
        step = "input"  # where a failure surfaced, for the error message
        try:
            out = df
            counted = None  # filled by the final checkpoint's own job
            for i, sname in enumerate(stage_names):
                if sname == "checkpoint":
                    step = "checkpoint"
                    if sink is None and i == len(stage_names) - 1:
                        counted = Observation()
                        out = out.observe(counted, F.count(F.lit(1)).alias("rows"))
                    out = materialize(out)
                    if held is not None:
                        release(held)
                    held = out
                    continue
                step = f"stage {sname!r}"
                stage = STAGES.get(sname)
                if stage is None:
                    raise KeyError(f"unknown stage: {sname!r}")
                out = stage(out)
            if sink is not None:
                step = "sink"
                sink(name, out)
                rows = None
            elif counted is not None:
                rows = counted.get["rows"]
            else:
                step = "count"
                rows = out.count()
            outputs[name] = out
            if held is not None:  # the returned output reads it
                report.barriers[name] = held
            report.results.append(
                StageResult(name, "success", stage_names, rows, time.perf_counter() - t0)
            )
        except Exception as e:  # per-input isolation — error is data, not crash
            if held is not None:  # no output escapes this input
                release(held)
            msg = f"{step}: {e}"
            report.results.append(
                StageResult(
                    name, "error", stage_names, None, time.perf_counter() - t0, msg
                )
            )
            if on_error is not None:
                try:
                    on_error(name, msg)
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
