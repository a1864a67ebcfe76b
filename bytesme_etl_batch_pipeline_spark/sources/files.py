"""File sources and sinks (SURVEY §2.1: S1–S4, S8, S9).

Reference behavior re-expressed Spark-first:

* S1/S2 — per-file ``pd.read_csv`` / ``csv.DictReader`` loops become ONE
  distributed CSV scan (reference: ``scripts/pipeline.py:48``,
  ``scripts/transform/seperate_tables.py:20-23``).
* S3 — ``glob.glob(dir + "*.csv")`` becomes a Spark path glob; per-file lineage
  is retained via ``input_file_name()`` instead of a driver-side loop
  (reference: ``scripts/pipeline.py:38-42``).
* S8/S9 — ``df.to_csv`` / ``json.dump`` become distributed writers.

Schemas are explicit by default (`inferSchema` is the fallback, SURVEY §1.3).
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    *,
    header: bool = True,
    permissive: bool = True,
    with_lineage: bool = False,
    corrupt_col: str | None = None,
    multi_line: bool = True,
) -> DataFrame:
    """S1/S2/S3: distributed CSV scan over a file, directory, or glob.

    ``permissive`` maps the reference's per-file try/except tolerance
    (``scripts/pipeline.py:94-111``) to row-level tolerance: a malformed row
    becomes NULL fields instead of failing the file. To QUARANTINE malformed
    rows for inspection, pass ``corrupt_col`` (requires an explicit
    ``schema``): the raw line of each bad row lands in that column and good
    rows have it NULL.

    ``with_lineage`` adds ``source_file`` + ``row_pos`` — the stable ordering
    key that keep-first dedup and surrogate-key assignment need (SURVEY §7
    hard part 2); pandas got this ordering for free, Spark must capture it.
    ``row_pos`` is the 0-based position WITHIN its file (multiLine forces one
    split per file, so in-partition order IS file order), which is stable
    across runs/parallelism — a raw ``monotonically_increasing_id`` embeds
    the partition index and is not.

    ``multi_line`` (default True, correctness-first: quoted embedded
    newlines parse as one row) makes each CSV file NON-SPLITTABLE — one
    scan task per file regardless of size. For a huge single CSV whose
    fields are known newline-free, pass ``multi_line=False`` to get
    splittable scans (``maxPartitionBytes``-sized tasks). Lineage REQUIRES
    multi-line mode: ``row_pos`` stability depends on one-split-per-file.
    """
    from pyspark.sql.types import StringType

    if with_lineage and not multi_line:
        raise ValueError(
            "with_lineage=True requires multi_line=True — row_pos is only "
            "stable when each file scans as one split"
        )
    reader = (
        spark.read.option("header", header)
        .option("multiLine", multi_line)
        .option("escape", '"')
        .option("mode", "PERMISSIVE" if permissive else "FAILFAST")
    )
    if corrupt_col is not None:
        if schema is None:
            raise ValueError("corrupt_col capture requires an explicit schema")
        # StructType.add MUTATES in place (and returns self), and
        # StructType(fields) keeps the passed LIST by reference — copy the
        # list too, or the CALLER's schema object permanently gains the
        # corrupt column (duplicated on the next call)
        schema = StructType(list(schema.fields)).add(corrupt_col, StringType())
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    if with_lineage:
        df = df.withColumns(dict(_lineage()))
    return df


@functools.lru_cache(maxsize=1)
def _lineage() -> tuple[tuple[str, Column], ...]:
    """``read_csv``'s lineage columns, one projection. The window
    partitions on the file name expression itself: the analyzer evaluates
    it, like ``source_file``, below the window's shuffle, in the scan task
    that knows the file."""
    from pyspark.sql import Window

    source_file = F.input_file_name()
    order = Window.partitionBy(source_file).orderBy(F.monotonically_increasing_id())
    return ("source_file", source_file), ("row_pos", F.row_number().over(order) - 1)


def read_json(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """S4: JSON scan (reference reads ``{site: [urls]}`` maps via json.load)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.option("multiLine", True).json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S8: CSV sink (reference: ``df.to_csv(path, index=False)`` and DictWriter
    appends). Distributed, header on, overwrite/append via ``mode``.
    Escape matches ``read_csv`` (RFC doubled-quote) so the engine's own
    output round-trips — the writer's default backslash escape would be
    misparsed by the reader for any field containing a quote."""
    df.write.mode(mode).option("header", True).option("escape", '"').csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S9: JSON sink."""
    df.write.mode(mode).json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = None,
) -> None:
    """Columnar sink — the engine's preferred landing format at scale.
    ``compression`` names the parquet codec for this write; the default
    None keeps the session's ``spark.sql.parquet.compression.codec``.
    zstd is the usual choice at 100 TB (snappy costs ~30-40% more
    storage/scan bytes for little CPU win on modern cores)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression:
        writer = writer.option("compression", compression)
    writer.parquet(path)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 128,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_file_mb``. Streaming sinks and fine-grained partition writes
    accumulate tiny files whose per-file open/footer cost dominates scans
    at scale; periodic compaction is standard hygiene. ``dst_path ==
    src_path`` compacts IN PLACE, with no second location. Returns the
    number of output data files.

    A hive-partitioned source is compacted PER LEAF partition directory
    (each leaf is a plain parquet dir): every partition gets its own exact
    byte-based sizing — a hot partition splits into many right-sized
    files instead of one giant one — and the layout, and with it
    partition pruning, is reproduced at the destination. A MIXED layout
    (loose data files above the leaf level) raises instead of silently
    dropping the loose files.

    Recovery runs before enumeration: at the table root (a crashed
    in-place run can park the WHOLE table at its retired sibling), then
    per leaf (``recover_retired_tree``) — a leaf parked mid-swap has no
    base dir to enumerate, so the copy would silently omit it, and an
    in-place retry would strand it or compact the parked dir AS a
    partition, silently renaming its value.

    In place, each leaf is published through ``publish_parquet``.
    Compaction is pure layout, so a crash at any publish step loses
    nothing and a re-run converges (same rows, fresh layout); a crash
    mid-table leaves every leaf complete, some compacted and some not
    yet. The swap is crash-ATOMIC but NOT reader-atomic: a concurrent
    reader can hit a transient path-not-found per leaf, the only
    reader-visible artifact — the staging/retired siblings are
    dot-prefixed, so a root-scanning reader never sees duplicated rows or
    a junk ``key=value__staging`` partition value. Schedule against live
    tables accordingly, or use the catalog-swap JDBC sink shape where
    readers must never miss."""
    recover_retired(src_path)
    recover_retired_tree(src_path)
    total = 0
    for rel in _partition_leaf_dirs(src_path):
        src = os.path.join(src_path, rel) if rel else src_path
        dst = os.path.join(dst_path, rel) if rel else dst_path
        total += _compact_flat_dir(spark, src, dst, target_file_mb)
    return total


def protocol_sibling(base_path: str, kind: str) -> str:
    """Path of the staging-swap protocol dir for ``base_path``: a
    DOT-PREFIXED sibling (``.<name>__staging`` / ``.<name>__retired``) in
    the same parent directory. The dot prefix is the invisibility
    guarantee (ADVICE r4, medium): Spark/Hadoop file listing skips any
    path whose name starts with ``.`` — unconditionally, even when the
    name contains ``=`` (an underscore prefix is NOT enough: partition
    discovery exempts ``_``-names containing ``=``) — so a reader
    scanning a partitioned table root during the swap window, or between
    a crash and the retry, can never pick up a protocol dir as a junk
    ``key=value__staging`` partition or read its rows twice. Python
    ``glob`` likewise skips dot-entries, which keeps these dirs out of
    leaf enumeration for free; recovery walks with ``os.walk`` (which
    does see them)."""
    trimmed = base_path.rstrip("/")
    parent, name = os.path.split(trimmed)
    return os.path.join(parent, f".{name}__{kind}")


def recover_retired(base_path: str) -> None:
    """Restore a generation parked at the retired sibling by a crash
    between ``publish_parquet``'s two renames — it holds the ONLY complete
    copy, and a caller that read the table as a first load would lose it.
    Also restores the LEGACY (pre-dot-prefix) ``<base>__retired``
    spelling: a table parked by a writer from before the protocol dirs
    went hidden would otherwise read as a first load — silent data loss
    on upgrade."""
    if os.path.exists(base_path):
        return
    for retired in (
        protocol_sibling(base_path, "retired"),
        base_path.rstrip("/") + "__retired",  # legacy spelling
    ):
        if os.path.exists(retired):
            os.rename(retired, base_path)
            return


@contextlib.contextmanager
def publish_parquet(base_path: str) -> Iterator[str]:
    """The engine's one crash-safe publish of a parquet directory, behind
    MERGE, incremental rollup, in-place compaction and the streaming
    upsert sink::

        with publish_parquet(base) as staging:
            ...  # read base (if it exists), write the next generation to staging

    Entry recovers, so no caller can skip it: a generation parked at the
    retired sibling is restored (``recover_retired``), then a superseded
    retired sibling and a stale staging dir from a crashed write are
    removed. A clean exit with the staging dir written swaps it in by
    rename-aside (base → retired, staging → base, drop retired); a body
    that raises, or writes nothing, publishes nothing.

    Ordering invariant: the previous generation (base, then the retired
    sibling) survives until the new base is in place, so a crash at any
    point leaves a complete copy that the next entry converges. NOT
    reader-atomic: between the two renames the base path briefly does
    not exist, so a concurrent reader can hit a transient path-not-found
    — retry, schedule off-peak, or use a catalog-level swap (the JDBC
    sink restores availability at entry; plain directories have no
    catalog to indirect through). The protocol dirs are DOT-PREFIXED
    siblings, invisible to Spark file listing (see ``protocol_sibling``),
    so a partitioned-table reader racing a per-leaf swap sees at worst
    the transient path-not-found — never duplicate rows or a junk
    partition value. Single WRITER assumed per table: two concurrent
    publishers would race on the same staging dir — serialize them
    externally. The dot-prefixed ``__staging`` / ``__retired`` sibling
    names are reserved."""
    staging = protocol_sibling(base_path, "staging")
    retired = protocol_sibling(base_path, "retired")
    recover_retired(base_path)
    for leftover in (retired, staging):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    yield staging
    if not os.path.exists(staging):
        return
    if os.path.exists(base_path):
        os.rename(base_path, retired)
    os.rename(staging, base_path)
    shutil.rmtree(retired, ignore_errors=True)


def restore_legacy_upsert_store(target_path: str) -> None:
    """Upgrade step of the streaming upsert sink, whose earlier publish
    staged at ``<target>.tmp`` and parked the previous store at
    ``<target>.old``. A crash between its two renames left ``.old`` as
    the only copy: restore it, as ``recover_retired`` restores the legacy
    ``__retired`` spelling, instead of reading a first load. Then drop the
    superseded ``.old`` and the unpublished ``.tmp`` — visible names that
    a partitioned reader would list as junk partition values. Scoped to
    that sink: beside any other table, ``x.old`` may be a user's own
    directory."""
    old, tmp = target_path + ".old", target_path + ".tmp"
    if not os.path.exists(target_path) and os.path.isdir(old):
        os.rename(old, target_path)
    for leftover in (old, tmp):
        if os.path.isdir(leftover):
            shutil.rmtree(leftover)


#: Reserved directory-name suffixes of the staging-swap publish protocol
#: (``publish_parquet``). A ``.<leaf>__retired`` / ``.<leaf>__staging``
#: sibling left by a crash mid-swap is PROTOCOL state, not a partition —
#: enumerating it as one would compact a retired generation in place
#: (silently renaming the partition value) or read a staging dir another
#: leaf's swap is about to consume. Protocol dirs are dot-prefixed (see
#: ``protocol_sibling``) so Spark listing and Python glob skip them; this
#: name check is the defensive second layer for explicit ``os.listdir``
#: walks, and still matches pre-dot-prefix leftovers.
_RESERVED_SUFFIXES = ("__retired", "__staging")


def _is_reserved_dir(name: str) -> bool:
    return name.endswith(_RESERVED_SUFFIXES)


def _hive_partition_keys(path: str) -> list[str]:
    """Detect hive-style partition keys (``key=value`` directory levels)
    under ``path``, outermost first. Empty list = unpartitioned table."""
    keys: list[str] = []
    cur = path
    while True:
        subs = [
            d
            for d in sorted(os.listdir(cur))
            if "=" in d
            and not _is_reserved_dir(d)
            and os.path.isdir(os.path.join(cur, d))
        ]
        if not subs:
            return keys
        keys.append(subs[0].split("=", 1)[0])
        cur = os.path.join(cur, subs[0])


def recover_retired_tree(path: str) -> None:
    """Per-LEAF crash recovery for partitioned staging-swap writers: restore
    every ``.<dir>__retired`` sibling under ``path`` whose base dir is
    missing (the mid-swap crash window of ``publish_parquet``, at any
    partition depth). Run BEFORE enumerating partition leaves — a leaf
    parked at its retired sibling has no base dir to enumerate, so without
    this sweep the retry would never restore (or even see) that partition.
    Walks with ``os.walk`` (NOT glob): protocol dirs are dot-prefixed
    precisely so glob and Spark listing skip them."""
    suffix = "__retired"
    if not os.path.isdir(path):
        return
    # fixpoint: a restored dir may itself contain a parked descendant that
    # this walk's snapshot could not see — re-walk until nothing moves.
    # Legacy (pre-dot-prefix) parked dirs are restored too: a crash from
    # before the protocol rename must not strand a partition on upgrade.
    moved = True
    while moved:
        moved = False
        for root, dirs, _files in os.walk(path):
            for d in list(dirs):
                if d.endswith(suffix):
                    name = d[1:] if d.startswith(".") else d
                    base = os.path.join(root, name[: -len(suffix)])
                    if not os.path.exists(base):
                        recover_retired(base)
                        moved = True
                if d.endswith(_RESERVED_SUFFIXES):
                    # protocol dir (retired OR staging, dot-prefixed or
                    # legacy): never descend — os.walk sees dot-entries, and
                    # a parked retired dir inside an abandoned half-written
                    # staging dir must not be "restored" INSIDE protocol
                    # state (ADVICE r5)
                    dirs.remove(d)


def _partition_leaf_dirs(path: str) -> list[str]:
    """Relative paths of every leaf ``key=value`` partition directory
    under ``path`` (``[""]`` for an unpartitioned table) — the unit of
    per-partition compaction: each leaf is itself a plain parquet dir.
    Reserved ``__retired``/``__staging`` siblings (crash leftovers of the
    swap protocol) are never leaves. Raises on a MIXED layout (data files
    at a non-leaf level alongside partition dirs): per-leaf rewrites would
    silently drop the loose files, and Spark cannot attach partition
    values to them either — such a table needs repair, not compaction."""
    import glob as _glob

    keys = _hive_partition_keys(path)
    if not keys:
        return [""]
    for level in range(len(keys)):
        level_pattern = os.path.join(path, *["*=*"] * level, "*")
        loose = [
            f
            for f in _glob.glob(level_pattern)
            if os.path.isfile(f)
            and not os.path.basename(f).startswith(("_", "."))
            and not any(_is_reserved_dir(p) for p in
                        os.path.relpath(f, path).split(os.sep)[:-1])
        ]
        if loose:
            raise ValueError(
                f"mixed layout under {path!r}: data file {loose[0]!r} sits at "
                f"partition level {level} (above the {keys} leaf level); "
                "per-partition compaction would silently drop it — repair the "
                "table layout first"
            )
    pattern = os.path.join(path, *["*=*"] * len(keys))
    return sorted(
        os.path.relpath(d, path)
        for d in _glob.glob(pattern)
        if os.path.isdir(d)
        and not any(
            _is_reserved_dir(p) for p in os.path.relpath(d, path).split(os.sep)
        )
    )


def _dir_data_bytes(path: str) -> int:
    import glob as _glob

    return sum(
        os.path.getsize(f)
        for f in _glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
    )


def _compact_flat_dir(
    spark: SparkSession, src: str, dst: str, target_file_mb: int
) -> int:
    """Rewrite ONE plain parquet dir into ceil(bytes/target) files at
    ``dst`` (``src == dst`` → in place, through ``publish_parquet``)."""
    import glob as _glob

    inplace = os.path.abspath(src) == os.path.abspath(dst)
    with publish_parquet(src) if inplace else contextlib.nullcontext(dst) as out_dir:
        n_out = max(1, -(-_dir_data_bytes(src) // (target_file_mb * 1024 * 1024)))
        spark.read.parquet(src).repartition(n_out).write.mode("overwrite").parquet(
            out_dir
        )
    return len(
        [f for f in _glob.glob(os.path.join(dst, "*.parquet")) if os.path.isfile(f)]
    )


def merge_upsert_parquet(
    spark: SparkSession,
    base_path: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
    delete_col: str | None = None,
    allow_schema_evolution: bool = False,
) -> int:
    """Copy-on-write MERGE INTO for a plain-parquet table: apply a change
    batch (latest ``version_col`` wins per key; rows whose ``delete_col``
    is true are removed) and publish the merged table ATOMICALLY.

    Schema contract: by default the change batch must carry exactly the
    stored columns — a batch missing one would otherwise silently DROP
    that column from the whole table, and a batch adding one would fail
    deep inside the union. Set ``allow_schema_evolution=True`` to merge
    by name instead: added columns appear with NULL for historical rows,
    and a column the batch omits is preserved (the batch's rows get NULL
    for it — "not provided", not "delete the column").

    Write protocol (the file-layer twin of
    ``jdbc.write_jdbc_exactly_once``): ``publish_parquet`` — the merged
    result is written in full to a hidden staging sibling before it
    replaces the table, so readers see the old table or the new one,
    never a half-written mix, and a crash at any step leaves a complete
    copy that the next run recovers.

    Merge semantics are ``operators/cdc``-style latest-change-wins,
    expressed as one window over the union — a keyed shuffle, no driver
    state. Missing base (first load) bootstraps from the updates alone.
    Returns the merged row count.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as _F

    with publish_parquet(base_path) as staging:
        if os.path.exists(base_path):
            base = spark.read.parquet(base_path)
            added = set(updates.columns) - set(base.columns)
            missing = set(base.columns) - set(updates.columns)
            if (added or missing) and not allow_schema_evolution:
                raise ValueError(
                    f"change batch schema differs from stored table at "
                    f"{base_path}: added={sorted(added)} missing={sorted(missing)}. "
                    "Pass allow_schema_evolution=True to merge by name."
                )
            # base rows rank below any update at the same version: change
            # batches REPLACE, re-applying an already-applied batch is a no-op
            unioned = base.withColumn("__src", _F.lit(0)).unionByName(
                updates.withColumn("__src", _F.lit(1)),
                allowMissingColumns=True,
            )
        else:
            unioned = updates.withColumn("__src", _F.lit(1))
        w = Window.partitionBy(*key_cols).orderBy(
            _F.col(version_col).desc(), _F.col("__src").desc()
        )
        merged = (
            unioned.withColumn("__rn", _F.row_number().over(w))
            .filter(_F.col("__rn") == 1)
            .drop("__rn", "__src")
        )
        if delete_col is not None:
            merged = merged.filter(~_F.coalesce(_F.col(delete_col), _F.lit(False)))
        merged.write.mode("overwrite").parquet(staging)
        n = spark.read.parquet(staging).count()
    return n
