"""C1 — rule-based category standardization (SURVEY §2.11).

The reference classifies each product by a 3-tier cascade
(``scripts/transform/standardize_categories.py:38-72``):

1. special-case substring match on the raw category;
2. exact match of the lowercased raw category against a mapping dict;
3. fallback: regex search of the *product name* against each category's
   alternation pattern, first hit wins in dict order; else a default.

Rules are DATA here (list of (category, variants)), compiled into one ordered
``when``-chain of pure Column predicates — rule order is semantic and
preserved. Catalyst folds the whole cascade into a single projection: no UDF,
no join, no shuffle; at 100 TB this runs map-side at scan speed.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import project


def build_rule_cascade(
    name_col: str,
    raw_col: str,
    rules: list[tuple[str, list[str]]],
    special_cases: list[tuple[str, str]] | None = None,
    default: str = "Others",
    special_multivalued_guard: bool = True,
) -> Column:
    """Compile the 3-tier cascade into one Column expression.

    ``rules``: ordered (canonical_category, [raw_variant, ...]).
    ``special_cases``: ordered (substring_of_raw, canonical_category) —
    tier 1, checked before everything else. With
    ``special_multivalued_guard`` (the reference semantics,
    ``standardize_categories.py:51``: ``'|' in cur_cat and needle in
    cur_cat``) the special fires ONLY when the raw category is multi-valued
    (pipe-joined); a single-valued raw containing the needle falls through
    to the exact tier. Pass False for the relaxed bare-substring form on
    taxonomies that never pipe-join.
    Tier 2 = exact lowercase match on ``raw_col`` variants.
    Tier 3 = case-insensitive regex of escaped variants against ``name_col``.

    The cascade is built once per distinct argument set in a process
    (``_rule_cascade``): the same rules give the same Column.
    """
    return _rule_cascade(
        name_col,
        raw_col,
        tuple((cat, tuple(variants)) for cat, variants in rules),
        tuple(tuple(case) for case in special_cases or ()),
        default,
        special_multivalued_guard,
    )


@functools.lru_cache(maxsize=32)
def _rule_cascade(
    name_col: str,
    raw_col: str,
    rules: tuple[tuple[str, tuple[str, ...]], ...],
    special_cases: tuple[tuple[str, str], ...],
    default: str,
    special_multivalued_guard: bool,
) -> Column:
    raw = F.lower(F.trim(F.col(raw_col)))
    # Reference lowercases the name before the regex search (:40). Lowering
    # here (not just ``(?i)``) also gives full-Unicode folding — Java's
    # bare CASE_INSENSITIVE is ASCII-only, and Vietnamese names are not.
    name = F.lower(F.trim(F.col(name_col)))

    expr: Column | None = None

    def chain(cond: Column, value: str):
        nonlocal expr
        expr = F.when(cond, F.lit(value)) if expr is None else expr.when(cond, F.lit(value))

    for needle, cat in special_cases:
        cond = raw.contains(needle.lower())
        if special_multivalued_guard:
            cond = raw.contains("|") & cond
        chain(cond, cat)
    for cat, variants in rules:
        lowered = [v.lower() for v in variants]
        chain(raw.isin(lowered), cat)
    for cat, variants in rules:
        # lower() the variants like tier 2: the name side is already
        # F.lower()'d (full Unicode folding), and (?i) alone is ASCII-only
        # — an uppercase non-ASCII variant letter ('Đ', 'Trà') could never
        # match the lowered name, silently disabling the rule
        pattern = "(?i)" + "|".join(re.escape(v.lower()) for v in variants)
        chain(name.rlike(pattern), cat)
    assert expr is not None, "rule cascade needs at least one rule"
    return expr.otherwise(F.lit(default))


def standardize_categories(
    df: DataFrame,
    name_col: str,
    raw_col: str,
    rules: list[tuple[str, list[str]]],
    special_cases: list[tuple[str, str]] | None = None,
    default: str = "Others",
    out_col: str = "category_name",
    special_multivalued_guard: bool = True,
) -> DataFrame:
    """C1 as a DataFrame op: project the cascade, drop the raw column
    (reference drops ``original_category`` after mapping,
    ``scripts/pipeline.py:58-63``)."""
    cascade = build_rule_cascade(
        name_col, raw_col, rules, special_cases, default,
        special_multivalued_guard=special_multivalued_guard,
    )
    return project(df, {out_col: cascade}, drop=[raw_col])


# The reference's CATEGORIES_MAPPING verbatim (``standardize_categories.py:
# 10-36``) — 13 categories, variant lists copied as published, in dict order
# (order is semantic: first hit wins in both the exact and the name-regex
# tier). Two documented intent fixes, each replicating what the reference
# AUTHOR meant rather than a Python accident:
#
# 1. Missing comma (``:11-12``): ``'bánh flan gato' 'gato cắt
#    miếng/cupcake'`` concatenates into one unmatched variant; split into
#    the two intended variants.
# 2. String-valued entries (``:34-35``): ``'Bingsu': 'Bingsu'`` and
#    ``'Topping thêm': 'Topping thêm'`` iterate PER CHARACTER in the
#    reference's list comprehensions — the exact tier degrades to matching
#    single letters and the regex tier to the alternation ``B|i|n|g|s|u``
#    (which classifies almost any name as Bingsu). List-wrapped here.
#    Evidence that the wrap is the intent: the reference's own
#    ``data/staging`` snapshots map raw 'bingsu'→'Bingsu' and 'topping
#    thêm'→'Topping thêm' exactly as the wrapped rules do, while the
#    published code's per-character behavior would mark 13/14 topping rows
#    'Bingsu' (see tests/test_categorize.py golden test).
BYTESME_RULES: list[tuple[str, list[str]]] = [
    ("Cakes", ["cakes", "dry cakes", "cake slices", "bánh kem bơ", "bánh flan gato",
               "gato cắt miếng/cupcake", "bánh ngọt", "gato box - cake box",
               "bánh bông lan", "bông lan"]),
    ("Breads & Buns", ["sandwiches", "buns|savory", "buns|sweet", "sweet|buns",
                       "bánh mì", "daily storing", "bánh tươi", "breads",
                       "bánh nướng - bánh mì"]),
    ("Pastries & Pies", ["pastries-and-pies", "donuts", "bánh nướng", "toasts",
                         "chocolate"]),
    ("Season & Specialist", ["xoài sấy", "tết", "bánh sinh nhật", "trung thu",
                             "bánh tiệc - bánh sinh nhật"]),
    ("Cookies & Biscuits", ["cookies", "cookie special", "bánh healthy"]),
    ("Chilled & Cold", ["pudding", "bánh lạnh", "sữa chua", "bánh entremet",
                        "bánh kem bắp", "bánh mousse"]),
    ("Sets", ["set bánh tổng hợp", "sets", "set bánh", "sweetbox",
              "sweetin - bánh hộp thiếc cao cấp"]),
    ("Coffee", ["cold-brew", "ca-phe-highlight-2", "a-me", "ca-phe-viet-nam",
                "ca-phe-may"]),
    ("Tea", ["tra-xanh-tay-bac", "tra-trai-cay", "tra-sua", "hi-tea-tra"]),
    ("Chocolate & Cacao", ["chocolate-1"]),
    ("Frosty", ["trai-cay-xay-0-c", "da-xay-frosty-1"]),
    ("Bingsu", ["bingsu"]),
    ("Topping thêm", ["topping thêm"]),
]

# Tier 1 (``standardize_categories.py:51``): fires only on MULTI-VALUED raw
# categories — '|' in cur_cat and the needle in cur_cat (the guard is
# applied by build_rule_cascade's special_multivalued_guard).
BYTESME_SPECIAL_CASES: list[tuple[str, str]] = [
    ("bánh tiệc - bánh sinh nhật", "Season & Specialist"),
]
