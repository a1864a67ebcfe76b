"""String/JSON scalar functions (SURVEY §2.9).

All pure Column expressions — they stay inside whole-stage codegen; nothing
here drops to Python at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def clean_lower(col: Column | str) -> Column:
    """``.lower().strip()`` (reference ``standardize_categories.py:39-40``)."""
    return F.lower(F.trim(F.col(col) if isinstance(col, str) else col))


def strip_non_digits(col: Column | str) -> Column:
    """``re.sub(r'[^\\d]', '', text)`` → long (reference price cleaner,
    ``products_scraping.py:443-446``). NULL-safe: empty result → NULL cast."""
    c = F.col(col) if isinstance(col, str) else col
    # try_cast: under ANSI mode (Spark 4 default) a plain cast of '' throws;
    # the reference's defensive int() maps to NULL-on-malformed semantics.
    return F.regexp_replace(c, "[^0-9]", "").try_cast("long")


def truncate_ellipsis(col: Column | str, max_len: int = 1000) -> Column:
    """``desc[:1000] + '...'`` when over-length (reference
    ``generate_embeddings.py:106-108``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) > max_len, F.concat(F.substring(c, 1, max_len), F.lit("..."))
    ).otherwise(c)


def normalize_quoted_json(col: Column | str) -> Column:
    """Tolerant single-quoted-JSON normalization (reference
    ``json.loads(s.replace("'", '"'))``, ``seperate_tables.py:38,150``).

    The reference's naive replace corrupts values containing apostrophes
    (SURVEY §7 hard part 3). This version only rewrites quotes that act as
    *delimiters* — a single quote adjacent to ``{ } : ,`` boundaries —
    leaving interior apostrophes intact.
    """
    c = F.col(col) if isinstance(col, str) else col
    # ' preceded by { , : or start → "   /   ' followed by } , : or end → "
    c = F.regexp_replace(c, r"(?<=[\{\[,:])\s*'", ' "')
    c = F.regexp_replace(c, r"'(?=\s*[\}\],:])", '"')
    return c


def parse_unit_price(col: Column | str, schema: StructType) -> Column:
    """Parse the three-shape ``product_unit_price`` column (plain int / 0 /
    single-quoted JSON — FIXTURES.md §1) into the sizes/prices struct."""
    c = F.col(col) if isinstance(col, str) else col
    is_json = c.startswith("{") & c.endswith("}")
    return F.when(is_json, F.from_json(normalize_quoted_json(c), schema))


class ParseUnitPriceUDTF:
    """Python UDTF (Spark 4 table-function surface, SURVEY §2.13): explode
    the reference's single-quoted size/price struct
    (``{'product_sizes': 'S|M|L', 'product_prices': '89000|94000|99000'}``,
    built at ``seperate_tables.py:41-44``) into one (size, price) row per
    pair — the row-generating twin of the ``zip_explode_pairs`` expression
    plan.

    ``ast.literal_eval`` IS the tolerant parser here: Python-repr dicts are
    exactly what the reference writes, and apostrophes inside properly
    quoted values survive where a blanket quote swap corrupts them.
    Malformed input yields no rows (same contract as the expression path's
    NULL). UDTFs are the Python slow path — production plans should prefer
    ``zip_explode_pairs``; this class is the escape hatch for parse logic
    expressions can't express.

    Register per-session:  ``spark.udtf.register("parse_unit_price", ...)``.
    """

    def eval(self, unit_price: str):  # noqa: D401 — UDTF contract method
        import ast

        if unit_price is None:
            return
        try:
            d = ast.literal_eval(unit_price)
            sizes = str(d["product_sizes"]).split("|")
            prices = str(d["product_prices"]).split("|")
        except (ValueError, SyntaxError, KeyError, TypeError):
            return
        # zip_longest, not zip: the expression twin (zip_explode_pairs /
        # arrays_zip) NULL-pads a ragged ladder to the longer side — a
        # truncating zip would silently drop rows when switching paths
        from itertools import zip_longest

        for s, p in zip_longest(sizes, prices):
            try:
                yield s, int(p)
            except (ValueError, TypeError):
                yield s, None


def register_parse_unit_price_udtf(spark) -> None:
    """Idempotently register the UDTF under ``parse_unit_price_udtf``."""
    from pyspark.sql.functions import udtf

    spark.udtf.register(
        "parse_unit_price_udtf",
        # NOT Arrow (guide §4 measured exception): ``useArrow=True`` was
        # A/B'd interleaved at sf0.1 and ran 3.5× SLOWER (4.49 s vs 1.27 s
        # floor) — a generator UDTF yielding ~3 rows per eval() makes the
        # Arrow path materialize a tiny record batch per call, so the
        # serialization win inverts. Pickle batching amortizes better at
        # this fan-out; revisit only for UDTFs yielding large row groups.
        udtf(ParseUnitPriceUDTF, returnType="size string, price bigint"),
    )


def canonicalize_url(col: Column | str) -> Column:
    """URL canonicalization for crawl dedup — the same page arrives as
    ``HTTP://Host.com:80/p/1/?utm_source=x#top`` and ``http://host.com/p/1``
    and must hash equal before exact/near dedup sees it. Pure expressions
    (codegen'd, no Python): lowercase scheme+host, strip default ports
    (80/http, 443/https), drop the fragment, remove tracking params
    (``utm_*``, ``fbclid``, ``gclid``), trim a trailing slash (root path
    becomes ``/``). Non-URL strings (no ``scheme://``) fall back to
    lower(trim(x)); NULL passes through.
    """
    u = F.trim(F.col(col) if isinstance(col, str) else col)
    no_frag = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    host = F.lower(F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1))
    rest = F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(.*)$", 1)
    host = F.when(scheme == "http", F.regexp_replace(host, ":80$", "")).otherwise(
        F.when(scheme == "https", F.regexp_replace(host, ":443$", "")).otherwise(host)
    )
    path = F.regexp_replace(rest, r"\?.*$", "")
    path = F.regexp_replace(path, "/$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.when(
        rest.contains("?"), F.regexp_replace(rest, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike("^(utm_[^=]*|fbclid|gclid)(=|$)"),
    )
    qs = F.array_join(kept, "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )
    return F.when(scheme == "", F.lower(u)).otherwise(canon)
