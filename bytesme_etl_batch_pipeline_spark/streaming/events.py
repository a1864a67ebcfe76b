"""Streaming event analytics: the streaming twins of the batch event queries.

Design: each transform is the SAME function the batch catalog uses
(plans/queries.py ``events_tumbling_window`` / ``sessionization``), applied to
a streaming DataFrame with a watermark. Late data beyond the watermark is
dropped deterministically; state for sessions/windows is bounded by the
watermark horizon — the property that keeps a 100 TB/day stream's state
finite.

Local testing uses the file source over the same parquet + ``availableNow``
(process-everything-then-stop), which exercises the real streaming engine,
checkpointing included, without a long-running service.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dec
from ..schemas import TESTDATA_TABLES


def read_events_stream(
    spark: SparkSession, sf_dir: str, schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events table (at scale: Kafka source with
    the same downstream code).

    ``max_files_per_trigger`` bounds micro-batch size. Leave it ``None``
    (the default) when replaying a FINISHED dump whose part files are not
    in event-time order: per-file micro-batches advance the watermark
    between batches in file-listing (mod-time) order, so one early batch
    holding the max-ts file would late-drop every older file that follows —
    nondeterministically, since same-write part files tie on mod-time.
    Watermark correctness assumes arrival roughly follows event time; that
    holds for a live tailing source (Kafka, arriving files) but NOT for an
    unordered replay, which must drain with large batches (or widen the
    watermark past the dump's disorder). Pass an explicit value to exercise
    multi-batch state merging on inputs whose file order is controlled.

    ``schema`` defaults to the declared events schema
    (``schemas.TESTDATA_TABLES``), so starting the stream reads no footer."""
    import os

    from ..sources.tables import ensure_session_confs

    ensure_session_confs(spark)  # UTC, even on foreign sessions
    path = os.path.join(sf_dir, "events.parquet")
    if schema is None:
        schema = TESTDATA_TABLES["events"]
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isdir(path):
        # Normal Spark layout: events.parquet is a DIRECTORY of part files —
        # stream the directory itself. (A pathGlobFilter of "events.parquet*"
        # here would match no LEAF file name and silently yield an empty
        # stream.)
        return reader.parquet(path)
    else:
        # Bare-file layout (driver testdata): the file source wants a
        # directory, so scan sf_dir scoped to this one file by leaf name.
        return reader.option("pathGlobFilter", "events.parquet*").parquet(sf_dir)


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts/sums with a watermark. On a stream, state is
    purged once the watermark passes the window end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (inactivity gap) per user on a stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def interval_attribution_join(
    left: DataFrame,
    right: DataFrame,
    user_col: str = "user_id",
    left_ts: str = "ts_l",
    right_ts: str = "ts_r",
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with a time-range condition (attribution:
    every right-event within ``horizon`` AFTER a same-user left-event).

    Works identically on batch and streaming inputs — on streams BOTH sides
    must be watermarked and the join condition must bound the time skew;
    that pair of constraints is what lets the engine evict join state (a
    left row can be dropped once the watermark passes ts_l + horizon). An
    unbounded-condition stream-stream join would grow state forever at
    100 TB/day."""
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        (lw[user_col] == rw[user_col])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {horizon}"))
    )
    return lw.join(rw, cond).select(
        lw[user_col].alias(user_col),
        F.col(left_ts),
        F.col(right_ts),
        ((F.unix_timestamp(right_ts) - F.unix_timestamp(left_ts))).alias("lag_sec"),
    )


def make_upsert_step(
    key_cols: list[str],
    target_path: str,
    order_col: str | None = None,
):
    """Build the keyed-upsert foreachBatch body (exposed, like
    ``streaming.dedup.make_incremental_dedup_step``, so crash-window
    behavior is directly testable): per micro-batch, new keys are
    appended and existing keys are replaced (batch-wins). Plain-parquet
    merge: read current target, anti-join away rows whose key re-arrived,
    union the (deduped) batch, swap in crash-safely.

    ``order_col``: with a key re-arriving WITHIN one micro-batch, the row
    with the greatest ``order_col`` wins deterministically (max_by). Without
    it, within-batch duplicates collapse to an arbitrary row
    (``dropDuplicates``) — acceptable only when the source can't emit the
    same key twice per batch.

    Crash safety: the target is swapped via rename-aside (target → .old,
    tmp → target, drop .old), and the read path falls back to ``.old`` if a
    crash landed between the renames — so at-least-once redelivery rebuilds
    from the pre-batch state instead of clobbering it; ``.old`` is only
    ever deleted while ``target`` exists, so no crash sequence can leave
    neither copy. A read failure with the target PRESENT propagates (fails
    the batch for retry) rather than silently restarting the store from
    one batch. On a production lakehouse the whole body becomes a
    Delta/Iceberg ``MERGE INTO``.
    """
    import os
    import shutil

    old_path = target_path + ".old"
    tmp_path = target_path + ".tmp"

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if order_col is not None:
            # row_number over (keys, order desc NULLS LAST), not
            # max_by(struct, order): max_by over an all-NULL ordering
            # column returns an all-NULL STRUCT (verified on PySpark
            # 4.1.2) — the key's real data would be replaced by NULLs and
            # the NULL-keyed junk row would never anti-join away. The
            # window keeps an ACTUAL row in every case; non-NULL order
            # still beats NULL.
            from pyspark.sql import Window

            w = Window.partitionBy(*key_cols).orderBy(
                F.col(order_col).desc_nulls_last()
            )
            fresh = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            fresh = batch_df.dropDuplicates(key_cols)

        read_path = None
        if os.path.isdir(target_path):
            read_path = target_path
        elif os.path.isdir(old_path):  # crash between the two renames
            read_path = old_path
        if read_path is not None:
            # a genuine read error here must FAIL the batch (retryable),
            # never silently rebuild the store from one micro-batch
            current = spark.read.parquet(read_path)
            # NULL-SAFE key equality, matching the within-batch semantics
            # (groupBy/dropDuplicates treat NULL keys as one group): with
            # plain '=' a stored NULL-key row never anti-joins away, so
            # NULL-keyed junk would accumulate one row per batch forever.
            fresh_keys = fresh.select(*key_cols)
            cond = None
            for c in key_cols:
                e = current[c].eqNullSafe(fresh_keys[c])
                cond = e if cond is None else (cond & e)
            merged = current.join(fresh_keys, cond, "left_anti").unionByName(fresh)
        else:
            merged = fresh

        merged.write.mode("overwrite").parquet(tmp_path)
        # Publish order invariant: at every instant at least one of
        # {target, .old} holds the pre-batch-or-newer state. .old is only
        # removed while target exists — removing it first (the previous
        # order) opened a two-crash window on a redelivery from the
        # mid-swap state where the sole surviving copy was deleted before
        # tmp promoted, and the NEXT retry would silently rebuild the
        # store from one micro-batch.
        if os.path.isdir(target_path):
            shutil.rmtree(old_path, ignore_errors=True)  # superseded copy
            shutil.move(target_path, old_path)
        shutil.move(tmp_path, target_path)
        shutil.rmtree(old_path, ignore_errors=True)

    return upsert


def run_foreach_batch_upsert(
    stream: DataFrame,
    key_cols: list[str],
    target_path: str,
    checkpoint_dir: str,
    order_col: str | None = None,
) -> None:
    """Drain a stream through the keyed-upsert sink (``make_upsert_step``
    for the merge/publish semantics and crash-safety contract)."""
    q = (
        stream.writeStream.foreachBatch(
            make_upsert_step(key_cols, target_path, order_col=order_col)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_to_memory(
    df: DataFrame, query_name: str, checkpoint_dir: str, output_mode: str = "complete"
) -> None:
    """Run a streaming aggregation to completion with availableNow into an
    in-memory table — the BOUNDED test/bench harness.

    Mode caveat: ``complete`` retains all windows and disables
    watermark-based state eviction, which is fine for a drained bounded
    input but must NOT be copied to a continuous deployment — production
    sinks (parquet/Delta/Kafka) use ``append`` (or ``update``), where the
    watermark actually bounds state as the aggregation docstrings promise."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_to_parquet_snapshot(
    df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
) -> None:
    """Drain a streaming aggregation with availableNow into a PARQUET
    snapshot via ``foreachBatch`` — the bounded-verification harness that
    keeps the driver OUT of the data path (VERDICT r4): each micro-batch
    overwrites ``out_dir`` with the full recomputed result (``complete``
    mode), executor-distributed end to end, so the final batch leaves the
    complete answer on disk and the caller returns a plain scan of it.
    Replaces the memory-sink + ``collect()`` + ``createDataFrame`` shape,
    whose driver heap ceiling the other catalog queries don't have.

    A plain file sink can't do this: windowed aggregations under
    ``append`` only emit windows the watermark has CLOSED, and at
    end-of-stream the watermark never passes the newest windows — the
    tail of the result would be silently missing. ``foreachBatch`` +
    ``complete`` snapshots the whole aggregation state instead.

    Same caveat as ``run_stream_to_memory``: ``complete`` retains all
    windows (no watermark eviction) — right for a drained bounded input,
    wrong for a continuous deployment (use the append/update sinks)."""

    def _overwrite(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = (
        df.writeStream.foreachBatch(_overwrite)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, on: list[str] | str, how: str = "left"
) -> DataFrame:
    """Stream-static dimension enrichment: every micro-batch joins against
    the STATIC dim snapshot (broadcast — no state store, no watermark; the
    dim is re-resolved per batch, so a dim refresh between batches is
    picked up automatically). The production shape for enriching a Kafka
    stream with a slowly-changing dimension when per-event freshness
    within a batch is not required; for interval-accurate history use the
    SCD2 table + ``interval_attribution_join`` instead."""
    return stream.join(F.broadcast(dim), on, how)
