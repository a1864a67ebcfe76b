#!/usr/bin/env python
"""Which package functions only the tests reach: AST name reachability.

Roots are the code a workload runs: the body of every ``@register``ed
catalog query in ``plans/queries.py``, every file under ``perfbench/`` and
``tools/``, ``bench.py`` and ``__spark_entry__.py``, plus the module-level
statements of every package module (they run at import, and
``worker_daemon.py``'s ``__main__`` block is how Spark starts it;
``import`` lines do not count, so a re-export reaches nothing); the
pipeline runner and the session are reached through them. A unit is a
top-level function or class of the package. A unit is reached when a
reached body names it: an ``ast.Name``, an attribute name, or a string
constant that is exactly the identifier (``getattr``/``setattr``
targets). Docstrings do not count. Names are not qualified, so two units
with one name are both reached by either use: the count errs towards
"reached".

Usage:
    python tools/reach.py CHECKOUT [CHANGE_CHECKOUT] > OUT.json

One JSON document on stdout, one entry per checkout: each unit that only
``tests/`` reaches or that nothing reaches (module, name, first and last
line, lines, ``reached_by``, tag), and the line totals per tag. With two
checkouts, a unit of the first that the second no longer defines is
tagged ``deleted``; the other tags come from ``TAGS`` below, and a unit
not in it is ``untagged``.
"""

from __future__ import annotations

import ast
import json
import os
import sys

PKG = "bytesme_etl_batch_pipeline_spark"
ROOT_DIRS = ("perfbench", "tools")
ROOT_FILES = ("bench.py", "__spark_entry__.py")

# Why a test-only unit stays: the reference pipeline's own stages (they
# have SURVEY §2 ids), the durable-write family (crash-safe publish and the
# writers built on it), or a path that tests use as the reference for a
# reached path. Keys are "<module path in the package>:<name>"; a key
# "<module path>:*" covers the rest of that module.
TAGS = {
    "sources/browser.py:*": "reference_stage",
    "sources/http.py:*": "reference_stage",
    "sources/jdbc.py:*": "reference_stage",
    "sources/files.py:read_json": "reference_stage",
    "sources/files.py:write_csv": "reference_stage",
    "sources/files.py:write_json": "reference_stage",
    "plans/pipeline.py:load_config": "reference_stage",
    "functions/strings.py:parse_unit_price": "reference_stage",
    "operators/dedup.py:drop_parent_paths": "reference_stage",
    "operators/embed.py:Embedder": "reference_stage",
    "operators/embed.py:SentenceTransformerEmbedder": "reference_stage",
    "operators/joins.py:lookup_map_join": "reference_stage",
    "operators/joins.py:zip_join": "reference_stage",
    "operators/textops.py:vi_tokenize_column": "reference_stage",
    "sources/files.py:*": "durable_state",
    "operators/aggregate.py:incremental_rollup": "durable_state",
    "operators/dedup.py:incremental_dedup": "durable_state",
    "streaming/dedup.py:*": "durable_state",
    "streaming/events.py:make_upsert_step": "durable_state",
    "streaming/events.py:run_foreach_batch_upsert": "durable_state",
    "streaming/events.py:run_stream_to_memory": "test_reference",
    "operators/bpe.py:bpe_encode": "test_reference",
    "operators/similarity.py:train_ivf_centroids": "test_reference",
    # the production slot of the reached media stages; it raises here, and
    # a test pins that it does instead of faking a decode
    "operators/multimodal.py:RealCodec": "test_reference",
}


def _py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for d, _, files in os.walk(path):
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _refs(node: ast.AST) -> set[str]:
    """Names a subtree uses, docstrings and import lines left out."""
    out: set[str] = set()
    docstrings = set()
    for n in ast.walk(node):
        body = getattr(n, "body", None)
        if isinstance(body, list) and body and isinstance(body[0], ast.Expr) \
                and isinstance(body[0].value, ast.Constant) and isinstance(body[0].value.value, str):
            docstrings.add(id(body[0].value))
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and n.value.isidentifier() and id(n) not in docstrings:
            out.add(n.value)
    return out


def _module_level_refs(tree: ast.Module) -> set[str]:
    out: set[str] = set()
    for stmt in tree.body:
        if not isinstance(stmt, (ast.Import, ast.ImportFrom, ast.FunctionDef,
                                 ast.AsyncFunctionDef, ast.ClassDef)):
            out |= _refs(stmt)
    return out


def _is_query(fn: ast.AST) -> bool:
    for d in getattr(fn, "decorator_list", []):
        call = d.func if isinstance(d, ast.Call) else d
        if isinstance(call, ast.Name) and call.id == "register":
            return True
    return False


def analyse(checkout: str) -> dict:
    pkg = os.path.join(checkout, PKG)
    units: dict[str, dict] = {}
    by_name: dict[str, list[str]] = {}
    roots: set[str] = set()
    for path in _py_files(pkg):
        rel = os.path.relpath(path, pkg)
        tree = ast.parse(open(path).read())
        roots |= _module_level_refs(tree)
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            key = f"{rel}:{node.name}"
            units[key] = {"module": rel, "name": node.name, "first": first,
                          "last": node.end_lineno, "refs": _refs(node)}
            by_name.setdefault(node.name, []).append(key)
            if rel == "plans/queries.py" and _is_query(node):
                roots |= {node.name} | units[key]["refs"]
    for rel in ROOT_DIRS + ROOT_FILES:
        for path in _py_files(os.path.join(checkout, rel)):
            roots |= _refs(ast.parse(open(path).read()))
    test_refs: set[str] = set()
    for path in _py_files(os.path.join(checkout, "tests")):
        test_refs |= _refs(ast.parse(open(path).read()))

    def closure(names: set[str]) -> set[str]:
        seen: set[str] = set()
        todo = [k for n in names for k in by_name.get(n, [])]
        while todo:
            k = todo.pop()
            if k in seen:
                continue
            seen.add(k)
            todo += [k2 for n in units[k]["refs"] for k2 in by_name.get(n, [])]
        return seen

    reached = closure(roots)
    via_tests = closure(roots | test_refs)

    def order(keys: set[str]) -> list[str]:
        return sorted(keys, key=lambda k: (units[k]["module"], units[k]["first"]))

    return {"units": units, "tests": order(via_tests - reached),
            "nothing": order(set(units) - via_tests)}


def _tag(key: str) -> str:
    module = key.split(":")[0]
    return TAGS.get(key) or TAGS.get(f"{module}:*") or "untagged"


def report(res: dict, gone: set[str]) -> dict:
    rows = []
    for reached_by in ("tests", "nothing"):
        for k in res[reached_by]:
            u = res["units"][k]
            rows.append({"module": u["module"], "name": u["name"], "first": u["first"],
                         "last": u["last"], "lines": u["last"] - u["first"] + 1,
                         "reached_by": reached_by,
                         "tag": "deleted" if k in gone else _tag(k)})
    summary = {}
    for reached_by in ("tests", "nothing"):
        sel = [r for r in rows if r["reached_by"] == reached_by]
        by_tag: dict[str, int] = {}
        for r in sel:
            by_tag[r["tag"]] = by_tag.get(r["tag"], 0) + r["lines"]
        summary[reached_by] = {"functions": len(sel), "lines": sum(r["lines"] for r in sel),
                               "lines_by_tag": dict(sorted(by_tag.items()))}
    return {"units": len(res["units"]), "reached_only_by": summary, "rows": rows}


def main() -> None:
    checkouts = sys.argv[1:]
    if len(checkouts) not in (1, 2):
        sys.exit(__doc__)
    results = [analyse(c) for c in checkouts]
    gone = set(results[0]["units"]) - set(results[-1]["units"])
    out = {c: report(r, gone if i == 0 else set()) for i, (c, r) in enumerate(zip(checkouts, results))}
    json.dump(out, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
