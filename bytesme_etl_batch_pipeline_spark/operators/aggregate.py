"""Grouping / surrogate keys / sequence codes (SURVEY §2.5: A1–A5).

Scale contract for ids (SURVEY §7 hard part 4):
* Dimension tables (small): dense ``row_number`` over an explicit order —
  matches the reference's ``enumerate(..., 1)``.
* Fact tables (100 TB): a global single-partition window is forbidden; use
  ``xxhash64``-based ids (deterministic, collision-checked at 64 bits) or
  ``zipWithIndex`` when density is mandatory.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def collapse_first_wins(df: DataFrame, key: str, attrs: list[str], order_by: list[str]) -> DataFrame:
    """A1: distinct-key collapse keeping one attribute set per key
    (reference dict build ``seperate_tables.py:24-33``).

    Implemented as ``min_by(struct(attrs), struct(order))`` because a plain
    aggregate gets map-side partial combining: each task reduces to one
    candidate per key before the shuffle. A row_number window would sort
    every partition and ship every row. ``min_by`` orders only on the order
    struct, so attrs may be any type (maps/arrays included).

    Determinism contract: ``order_by`` must be non-null and UNIQUE per key
    (the engine's stable-key contract — e.g. file+row lineage or a natural
    key). On order ties ``min_by`` picks an arbitrary tied row."""
    pick, fields = _first_wins(key, tuple(attrs), tuple(order_by))
    return df.groupBy(key).agg(pick).select(*fields)


@functools.lru_cache(maxsize=32)
def _first_wins(
    key: str, attrs: tuple[str, ...], order_by: tuple[str, ...]
) -> tuple[Column, tuple[Column, ...]]:
    ord_struct = F.struct(*[F.col(c).alias(f"o{i}") for i, c in enumerate(order_by)])
    val_struct = F.struct(*[F.col(a).alias(f"a{i}") for i, a in enumerate(attrs)])
    fields = (F.col(key), *[F.col(f"__p.a{i}").alias(a) for i, a in enumerate(attrs)])
    return F.min_by(val_struct, ord_struct).alias("__p"), fields


def dense_ids(df: DataFrame, id_col: str, order_by: list[str]) -> DataFrame:
    """A3 (dims): dense 1..n ids in a deterministic order. Single-partition
    window — acceptable for dimension tables only (documented deviation for
    facts; see ``hash_ids``). NULLS LAST explicitly: Spark's ascending
    default is NULLS FIRST, the opposite of the DuckDB/Postgres ORDER BY
    default — one NULL dim value would silently shift EVERY id by one
    between engines."""
    return df.withColumn(id_col, _sequence((), tuple(order_by)))


def hash_ids(df: DataFrame, id_col: str, key_cols: list[str], hash_fn=None) -> DataFrame:
    """A3 (facts): 64-bit deterministic surrogate keys, no shuffle at all.
    The 100 TB-safe replacement for ``enumerate``-style dense ids.
    ``hash_fn`` defaults to ``xxhash64`` (fast, JVM-side); pass an md5-based
    hash when a cross-engine oracle must replay the ids.

    A row with a NULL anywhere in its business key gets a NULL surrogate —
    NOT a hash: both xxhash64 and concat_ws-based hashes SKIP NULL inputs,
    so hashing would alias a NULL key with the empty-string key (and, for
    multi-column keys, ``(a, NULL)`` with ``(NULL, a)``) — a corrupt row
    must never inherit a clean row's identity."""
    return df.withColumn(id_col, _hash_id(tuple(key_cols), hash_fn or F.xxhash64))


@functools.lru_cache(maxsize=32)
def _hash_id(key_cols: tuple[str, ...], hash_fn) -> Column:
    all_present = functools.reduce(
        lambda a, b: a & b, [F.col(c).isNotNull() for c in key_cols]
    )
    return F.when(all_present, hash_fn(*[F.col(c) for c in key_cols]))


@functools.lru_cache(maxsize=32)
def _sequence(partition_by: tuple[str, ...], order_by: tuple[str, ...]) -> Column:
    # A2's per-group counter (reference ``cat_counters[cat] += 1``), each
    # group numbered independently; NULLS LAST as in ``dense_ids``
    w = Window.partitionBy(*partition_by).orderBy(
        *[F.col(c).asc_nulls_last() for c in order_by]
    )
    return F.row_number().over(w)


def sequence_code(
    df: DataFrame,
    brand_col: str,
    group_col: str,
    order_by: list[str],
    out_col: str = "product_code",
) -> DataFrame:
    """A2 full form: ``{BRAND[:2]}-{GROUP[:2]}-{NNN}`` codes
    (reference ``generate_mock_data.py:11-16``), built from the per-group
    sequence with pure string expressions."""
    return df.withColumn(out_col, sequence_code_column(brand_col, group_col, tuple(order_by)))


@functools.lru_cache(maxsize=32)
def sequence_code_column(brand_col: str, group_col: str, order_by: tuple[str, ...]) -> Column:
    """``sequence_code``'s code as one Column, the per-group sequence
    window inlined (one projection, no helper column)."""
    # NULL components -> NULL code (SQL printf/|| semantics), NOT the
    # literal string "null" that Spark's format_string would render
    return F.when(
        F.col(brand_col).isNotNull() & F.col(group_col).isNotNull(),
        F.format_string(
            "%s-%s-%03d",
            F.upper(F.substring(F.col(brand_col), 1, 2)),
            F.upper(F.substring(F.col(group_col), 1, 2)),
            _sequence((group_col,), order_by),
        ),
    )


def salted_count(
    df: DataFrame, keys: list[str], salt_buckets: int = 16, out_col: str = "n"
) -> DataFrame:
    """Skew-resistant two-stage count: shuffle once on (key, salt) spreading
    a hot key over ``salt_buckets`` reducers, then combine the partials on
    the key alone (second shuffle moves only ``buckets × |keys|`` rows).

    With partial map-side aggregation, plain groupBy handles most skew; the
    salted form is for the pathological hot-key case where even a single
    reducer's *final* partials overflow — standard remedy at 100 TB.
    Salt derives from ``monotonically_increasing_id`` ALONE: it is already
    unique per row, so fully identical rows (the duplicate-heavy hot key)
    spread across buckets, and hashing the content columns would both add
    nothing and THROW on un-hashable column types (xxhash64 rejects
    MapType). Counts are invariant to which bucket a row lands in, so the
    salt choice is semantically free."""
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.count(F.lit(1)).alias("__partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("__partial").cast("long").alias(out_col))


#: Applied-batch ids remembered by ``incremental_rollup``'s marker file:
#: redelivery (retry or out-of-order replay) of any of the last N batches
#: is refused; older replay is the caller's responsibility. 1024 ids is a
#: few KB — far past any real queue's redrive horizon.
_APPLIED_BATCH_LOG_SIZE = 1024


def incremental_rollup(
    spark,
    state_path: str,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    count_col: str = "n_rows",
    batch_id: str | None = None,
):
    """Incrementally-maintained rollup: persist PARTIAL aggregate state
    (decimal sums, counts, mins, maxes per key) and fold each delta batch
    into it without ever rescanning history — the materialized-view
    maintenance primitive for append-only feeds (the HLL/CMS sketch
    persistence above is the distinct-count special case; this is the
    algebraic SUM/COUNT/MIN/MAX general case — all self-merging
    aggregates, which is exactly why AVG is exposed as sum÷count instead
    of stored).

    Mechanics: aggregate the delta to per-key partials (one keyed
    shuffle over DELTA rows only), union with the stored state, re-agg
    (state is key-cardinality-sized, not history-sized), and publish via
    ``files.publish_parquet`` (the swap behind the MERGE sink too), so
    readers never see a half-merged state and a crash leaves the previous
    state intact. Sums are decimal(28,4) — exact and associative, so N
    small deltas produce bit-identical state to one big batch (proven in
    tests). Returns the merged state DataFrame.

    Exactly-once across crash+retry needs ``batch_id``: unlike
    ``merge_upsert_parquet`` (version-latest-wins, so re-applying a batch
    is a semantic no-op), these aggregates are ADDITIVE — a crash after
    the staging→state promotion followed by a blind retry of the same
    delta would double-count it. With ``batch_id`` set, the id is
    appended to an ``_applied_batch`` marker INSIDE the staging dir (it
    rides the rename atomically, and parquet readers ignore underscore
    files) holding the last ``_APPLIED_BATCH_LOG_SIZE`` applied ids; a
    retry OR an out-of-order redelivery (an older batch re-delivered
    after newer ones applied — queue redrives, multiple producers) whose
    id is still inside that horizon returns the state untouched.
    Redelivery delayed by MORE than ``_APPLIED_BATCH_LOG_SIZE``
    intervening batches is undetectable here — callers with unbounded
    replay lag must keep their own applied-batch ledger. Callers without
    stable batch ids must track delta application themselves.
    """
    import os

    from ..sources.files import publish_parquet

    sum_cols = sum_cols or []
    min_cols = min_cols or []
    max_cols = max_cols or []

    def partials(df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).cast("long").alias(count_col)]
        aggs += [
            F.sum(F.col(c).cast("decimal(28,4)")).alias(f"sum_{c}") for c in sum_cols
        ]
        aggs += [F.min(c).alias(f"min_{c}") for c in min_cols]
        aggs += [F.max(c).alias(f"max_{c}") for c in max_cols]
        return df.groupBy(*keys).agg(*aggs)

    fresh = partials(delta)
    # publish_parquet recovers on entry: a state parked by a crash
    # mid-swap is back at state_path before the marker is read, so this
    # delta merges into it instead of silently rebuilding from scratch
    with publish_parquet(state_path) as staging:
        marker = os.path.join(state_path, "_applied_batch")
        applied: list[str] = []
        if os.path.exists(marker):
            with open(marker, encoding="utf-8") as f:
                applied = [ln for ln in f.read().splitlines() if ln]
        if batch_id is not None and batch_id in applied:
            # this delta already promoted — either an immediate retry after
            # a crash in the post-promotion cleanup, or an OUT-OF-ORDER
            # redelivery of an older batch (queue redrive, multiple
            # producers): the marker is a bounded LOG of recent batch ids,
            # not just the latest, so a delayed replay of batch N-2 after
            # N-1 applied is also refused instead of silently
            # double-counting (ADVICE r4). Nothing is staged, so nothing
            # is published.
            return spark.read.parquet(state_path)
        if os.path.exists(state_path):
            state = spark.read.parquet(state_path)
            merge_aggs = [F.sum(F.col(count_col)).cast("long").alias(count_col)]
            merge_aggs += [
                F.sum(F.col(f"sum_{c}")).alias(f"sum_{c}") for c in sum_cols
            ]
            merge_aggs += [F.min(f"min_{c}").alias(f"min_{c}") for c in min_cols]
            merge_aggs += [F.max(f"max_{c}").alias(f"max_{c}") for c in max_cols]
            merged = (
                state.unionByName(fresh).groupBy(*keys).agg(*merge_aggs)
            )
        else:
            merged = fresh
        merged.write.mode("overwrite").parquet(staging)
        # bounded log: the last _APPLIED_BATCH_LOG_SIZE applied ids ride
        # the promotion rename atomically. Redelivery older than the
        # horizon is undetectable — callers with arbitrarily-delayed
        # replay need their own ledger (documented in the docstring). An
        # id-LESS delta must still carry the EXISTING log forward (ADVICE
        # r5): promoting a marker-free staging dir would wipe it, so a
        # later redelivery of an earlier id'd batch (b1, id-less delta, b1
        # again) double-counts despite being inside the horizon.
        log = (applied + ([batch_id] if batch_id is not None else []))[
            -_APPLIED_BATCH_LOG_SIZE:
        ]
        if log:
            with open(
                os.path.join(staging, "_applied_batch"), "w", encoding="utf-8"
            ) as f:
                f.write("\n".join(log) + "\n")
    return spark.read.parquet(state_path)
