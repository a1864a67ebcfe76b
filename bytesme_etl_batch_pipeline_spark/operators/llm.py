"""E5 — LLM text enrichment (SURVEY §2.12).

The reference fills missing product descriptions by POSTing one prompt per
row to a local Ollama endpoint, returning "" on error
(``generate_mock_data.py:42-65,130-133``). Spark-first shape:

* the generation backend is an injected callable (tests use the
  deterministic mock; production wires an HTTP client);
* rows are processed in Arrow batches via ``mapInPandas`` so one executor
  slot holds one HTTP connection and batches amortize it — never one request
  per task;
* only rows that NEED enrichment enter the UDF path (the P7 null/empty gate
  is a pushed filter); enriched rows are unioned back.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GenerateFn = Callable[[str], str]


def mock_generator(prompt: str) -> str:
    """Deterministic stand-in for the Ollama call (tests/CI)."""
    import hashlib

    tag = hashlib.md5(prompt.encode()).hexdigest()[:8]
    return f"Auto-description [{tag}]"


def enrich_descriptions(
    df: DataFrame,
    text_col: str,
    prompt_cols: list[str],
    generate: GenerateFn = mock_generator,
    prompt_template: str = "Describe the product: {}",
) -> DataFrame:
    """Fill null/empty ``text_col`` using the LLM backend; rows that already
    have text pass through untouched (and never reach Python)."""
    needs = F.col(text_col).isNull() | (F.trim(F.col(text_col)) == "")
    ok_rows = df.filter(~needs)
    todo_rows = df.filter(needs)

    schema = df.schema
    names = [f.name for f in schema.fields]

    def gen_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # fillna first: astype(str) would render pandas nulls as the
            # literal strings 'None'/'nan' inside the LLM prompt
            prompts = pdf[prompt_cols].fillna("").astype(str).agg(" ".join, axis=1)
            pdf[text_col] = [generate(prompt_template.format(p)) for p in prompts]
            yield pdf[names]

    enriched = todo_rows.mapInPandas(gen_batches, schema=schema)
    return ok_rows.unionByName(enriched)
