"""Text-analysis operators for LLM training-data pipelines.

Engine extension surface (BASELINE.json north star): language ID, quality
scoring, token counting, document fingerprinting. The reference's only text
analytics is the Vietnamese doc templating (``generate_embeddings.py:39-194``)
and an unused pyvi tokenizer import (SURVEY §2.12 E6); these operators
generalize that surface for 100 TB corpora.

Everything here is pure Column expressions — runs map-side inside
whole-stage codegen, no shuffle, no Python. Hash primitives use md5 (not
xxhash64) where a DuckDB oracle must reproduce the value exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..functions.seeded import md5_hash48

# Distinctive stopwords per language, ordered — order is the deterministic
# tie-break for argmax (first max wins).
LANG_STOPWORDS: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "of", "and", "to", "in", "is"]),
    ("de", ["der", "die", "das", "und", "ist", "ein", "nicht"]),
    ("fr", ["le", "la", "les", "et", "est", "un", "pas"]),
    ("es", ["el", "los", "las", "y", "es", "uno", "no"]),
    ("zh", ["的", "是", "了", "在", "我", "有"]),
]

TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def words(col: Column | str) -> Column:
    r"""Non-empty whitespace tokens (``\s+`` — tabs/newlines are separators
    too; splitting on a literal space would glue line-wrapped words together
    and break near-dup matching on multi-line corpora)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda w: w != "")


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def token_count_regex(col: Column | str, pattern: str = TOKEN_REGEX) -> Column:
    """BPE-ish token count: alpha runs, digit runs, single punctuation — a
    cheap, deterministic proxy for subword tokenizer counts."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), 0))


def _stopword_hits(ws: Column, stopwords: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(ws, lambda w: F.array_contains(arr, w)))


def lang_id(
    col: Column | str,
    rules: list[tuple[str, list[str]]] | None = None,
    ws: Column | None = None,
) -> Column:
    """Language ID by stopword-hit argmax (n-gram heuristic family).
    Returns 'und' when no list scores a hit; ties break in rule order.
    Pass ``ws`` (a materialized words-array column) to avoid re-splitting
    the text once per language."""
    rules = rules or LANG_STOPWORDS
    ws = ws if ws is not None else words(col)
    scores = [(lang, _stopword_hits(ws, sw)) for lang, sw in rules]
    mx = F.greatest(*[s for _, s in scores])
    expr = F.when(mx == 0, F.lit("und"))
    for lang, s in scores:
        expr = expr.when(s == mx, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def quality_features(df: DataFrame, text_col: str, id_cols: list[str]) -> DataFrame:
    """Quality scoring: length/punctuation/stopword features + a composite
    score in [0,1]. Ratios are rounded to 6 decimals so the values are
    bit-identical across engines.

    Empty/junk-document contract (quality scoring exists precisely for junk
    input; ANSI mode would otherwise raise DIVIDE_BY_ZERO): with zero words
    the per-word ratios are NULL and the score is 0.0; with zero chars the
    punct ratio is NULL too. ``when``-guarded divisions — CaseWhen only
    evaluates the taken branch, so the divide never runs on empty docs."""
    df = df.withColumn("__ws", words(text_col))
    c = F.col(text_col)
    ws = F.col("__ws")  # materialized once — inline re-splits per use
    n_chars = F.length(c)
    n_words = F.size(ws)
    en_stop = _stopword_hits(ws, LANG_STOPWORDS[0][1])
    punct = F.length(F.regexp_replace(c, "[^.!?,;]", ""))
    avg_word_len = F.when(
        n_words > 0, F.round(F.length(F.regexp_replace(c, r"\s", "")) / n_words, 6)
    )
    punct_ratio = F.when(n_chars > 0, F.round(punct / n_chars, 6))
    stop_ratio = F.when(n_words > 0, F.round(en_stop / n_words, 6))
    score = F.when((n_words == 0) | (n_chars == 0), F.lit(0.0)).otherwise(
        F.round(
            F.least(F.lit(1.0), n_words / F.lit(100.0)) * 0.4
            + (F.lit(1.0) - punct_ratio) * 0.3
            + stop_ratio * 0.3,
            6,
        )
    )
    return df.select(
        *id_cols,
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        avg_word_len.alias("avg_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        score.alias("quality_score"),
    )


def fingerprint(df: DataFrame, text_col: str, id_cols: list[str], k_words: int = 8) -> DataFrame:
    """Document fingerprinting: full-content md5 + a 48-bit prefix hash of the
    first ``k_words`` normalized words (rolling-hash family — stable under
    trailing edits)."""
    c = F.col(text_col)
    head = F.array_join(F.slice(words(text_col), 1, k_words), " ")
    return df.select(
        *id_cols,
        F.md5(c).alias("content_md5"),
        md5_hash48(head).alias("prefix_hash48"),
    )


def simhash(df: DataFrame, text_col: str, id_cols: list[str], n_bits: int = 16) -> DataFrame:
    """SimHash over whitespace tokens (with multiplicity): per bit, sum ±1
    votes from each word's 48-bit md5 hash; bit set iff the vote is positive.

    Implemented as ``n_bits`` independent aggregate expressions over one
    explode — a single shuffle on the doc id, no per-bit row blowup.
    """
    exploded = df.select(*id_cols, F.explode(words(text_col)).alias("__w"))
    h = md5_hash48(F.col("__w"))
    votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__v{b}")
        for b in range(n_bits)
    ]
    agg = exploded.groupBy(*id_cols).agg(*votes)
    sh = None
    for b in range(n_bits):
        term = F.when(F.col(f"__v{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sh = term if sh is None else sh + term
    return agg.select(*id_cols, sh.cast("long").alias("simhash"))


def vi_tokenize_column(col: Column | str) -> Column:
    """E6 — Vietnamese word segmentation hook (reference imports
    ``pyvi.ViTokenizer`` but never calls it, ``generate_embeddings.py:13``).
    Uses pyvi when installed; falls back to whitespace tokens so the
    operator is total in every environment."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, StringType

    try:  # pragma: no cover - pyvi not in this container
        from pyvi.ViTokenizer import tokenize as _vi

        @F.pandas_udf(ArrayType(StringType()))
        def _tok(texts: pd.Series) -> pd.Series:
            return texts.fillna("").map(lambda t: _vi(t).split())

        c = F.col(col) if isinstance(col, str) else col
        return _tok(c)
    except ImportError:
        return words(col)


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_cols: list[str], k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing fingerprints (the rolling-hash fingerprint family used for
    plagiarism/near-dup detection): hash every word k-gram, slide a window
    of w hashes, keep the minimum of each window, emit the distinct mins.

    Robust to local edits: a change only perturbs fingerprints whose window
    touches it. Pure expressions — per-row array ops, one explode; no
    shuffle until the caller aggregates."""
    ws = F.col("__ws")

    def _starts(arr, width):
        # sequence(1, 0) is descending [1, 0], never use it for empty ranges
        return F.when(
            F.size(arr) >= width, F.sequence(F.lit(1), F.size(arr) - F.lit(width - 1))
        ).otherwise(F.array().cast("array<int>"))

    kgrams = F.transform(_starts(ws, k), lambda i: F.array_join(F.slice(ws, i, k), " "))
    hashes = F.transform(F.col("__kg"), lambda g: md5_hash48(g))
    mins = F.transform(
        _starts(F.col("__h"), w), lambda i: F.array_min(F.slice(F.col("__h"), i, w))
    )
    return (
        df.withColumn("__ws", words(text_col))
        .withColumn("__kg", kgrams)
        .withColumn("__h", hashes)
        .withColumn("__mins", mins)
        .select(*id_cols, F.explode(F.array_distinct(F.col("__mins"))).alias("fingerprint"))
    )


# Combining-mark blocks removed by accent folding (covers Latin/Vietnamese
# diacritics: U+0300-036F is where all Vietnamese tone/vowel marks live).
_COMBINING_BLOCKS = (
    "\u0300-\u036f\u1ab0-\u1aff\u1dc0-\u1dff\u20d0-\u20ff\ufe20-\ufe2f"
)


def normalize_unicode(col: Column | str, form: str = "NFC") -> Column:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) — the ingest hygiene step
    for Vietnamese text, where composed vs decomposed diacritics make equal
    strings compare unequal (and dedup digests diverge). Vectorized pandas
    ``str.normalize`` (same unicodedata standard DuckDB's utf8proc
    implements, so the oracle's ``nfc_normalize`` matches byte-for-byte).
    NULL passes through."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    c = F.col(col) if isinstance(col, str) else col
    # explicit returnType/functionType: string type hints under
    # ``from __future__ import annotations`` break pandas_udf inference
    _norm = pandas_udf(
        lambda s: s.str.normalize(form), StringType(), PandasUDFType.SCALAR
    )
    return _norm(c)


def fold_accents(col: Column | str) -> Column:
    """Accent folding for search keys: NFD-decompose, strip combining marks
    (đ/Đ stay — they are letters, not accents — matching DuckDB's
    ``strip_accents``). 'cà phê sữa đá' → 'ca phe sua đa'."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    c = F.col(col) if isinstance(col, str) else col
    _fold = pandas_udf(
        lambda s: s.str.normalize("NFD").str.replace(
            f"[{_COMBINING_BLOCKS}]", "", regex=True
        ),
        StringType(),
        PandasUDFType.SCALAR,
    )
    return _fold(c)


def compression_ratio(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document zlib compressibility: ``compressed_len / raw_len`` —
    highly compressible text is repetitive boilerplate (the
    RefinedWeb/MassiveText-family quality signal that catches templated
    spam even when token statistics look normal). zlib level 6 is
    deterministic for a given input across platforms (fixed algorithm,
    no timestamps with wbits default via ``zlib.compress``), so the
    score is reproducible cluster-wide. One Arrow ``mapInPandas`` pass —
    compression is the rare case where Python-per-item is the honest
    cost (no JVM-side zlib expression exists); batches stay columnar."""
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    # output id column keeps the caller's name AND type (ADVICE r3)
    schema = StructType(
        [
            StructField(id_col, docs.schema[id_col].dataType, False),
            StructField("raw_len", LongType(), True),
            StructField("compressed_len", LongType(), True),
            StructField("compression_ratio", DoubleType(), True),
        ]
    )

    def run(batches):
        import zlib

        for pdf in batches:
            texts = pdf[text_col]
            raw, comp, ratio = [], [], []
            for t in texts:
                if t is None:
                    raw.append(None); comp.append(None); ratio.append(None)
                    continue
                b = t.encode("utf-8")
                c = len(zlib.compress(b, 6))
                raw.append(len(b))
                comp.append(c)
                ratio.append(round(c / len(b), 6) if b else None)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "raw_len": pd.array(raw, dtype="Int64"),
                    "compressed_len": pd.array(comp, dtype="Int64"),
                    "compression_ratio": pd.array(ratio, dtype="float64"),
                }
            )

    return docs.mapInPandas(run, schema=schema)
