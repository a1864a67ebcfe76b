"""Streaming twins must produce the same results as the batch queries when
the stream is drained with availableNow (bounded input ⇒ identical output)."""

from __future__ import annotations

import os
import tempfile

import pytest

from bytesme_etl_batch_pipeline_spark.plans import queries as catalog
from bytesme_etl_batch_pipeline_spark.streaming import events as stream_events


def _sorted_rows(rows):
    return sorted(tuple(r) for r in rows)


def test_streaming_windowed_counts_matches_batch(spark, sf_dir):
    stream = stream_events.read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    agg = stream_events.windowed_counts(stream)
    with tempfile.TemporaryDirectory() as ckpt:
        stream_events.run_stream_to_memory(agg, "win_counts", ckpt)
    got = spark.sql("SELECT * FROM win_counts").collect()
    expected = catalog.SPARK_QUERIES["events_tumbling_window"](spark, sf_dir).collect()
    assert _sorted_rows(got) == _sorted_rows(expected)


def test_streaming_sessionization_matches_batch(spark, sf_dir):
    stream = stream_events.read_events_stream(spark, sf_dir)
    agg = stream_events.sessionized_counts(stream)
    with tempfile.TemporaryDirectory() as ckpt:
        stream_events.run_stream_to_memory(agg, "sess_counts", ckpt)
    got = spark.sql("SELECT * FROM sess_counts").collect()
    expected = catalog.SPARK_QUERIES["sessionization"](spark, sf_dir).collect()
    assert _sorted_rows(got) == _sorted_rows(expected)


def test_parquet_snapshot_drain_matches_memory_sink(spark, sf_dir, tmp_path):
    """VERDICT r4: the foreachBatch parquet-snapshot drain (which keeps the
    result set off the driver) must produce exactly the memory-sink result
    — same rows, same schema — and repeated drains must overwrite, not
    accumulate."""
    out = str(tmp_path / "snap")
    for _ in range(2):  # second drain overwrites the first
        stream = stream_events.read_events_stream(spark, sf_dir)
        agg = stream_events.windowed_counts(stream)
        with tempfile.TemporaryDirectory() as ckpt:
            stream_events.run_stream_to_parquet_snapshot(agg, out, ckpt)
    got_df = spark.read.parquet(out)
    expected = catalog.SPARK_QUERIES["events_tumbling_window"](spark, sf_dir)
    assert [f.name for f in got_df.schema.fields] == [
        f.name for f in expected.schema.fields
    ]
    assert _sorted_rows(got_df.collect()) == _sorted_rows(expected.collect())


def test_parquet_snapshot_drain_empty_source(spark, tmp_path):
    """Zero-batch drain: an empty (schema-only) source must come back as
    an empty result, not a read error on a never-created snapshot dir."""
    from bytesme_etl_batch_pipeline_spark.plans.queries import (
        _drain_stream_snapshot,
    )

    src = str(tmp_path / "empty_events")
    empty = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
    )
    empty.write.parquet(src)
    stream = spark.readStream.schema(empty.schema).parquet(src)
    agg = stream_events.windowed_counts(stream)
    got = _drain_stream_snapshot(spark, agg, "empty_drain_test")
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == [
        f.name for f in agg.schema.fields
    ]


def test_zero_batch_drain_ignores_stale_snapshot(spark, tmp_path):
    """A snapshot left by a PRIOR invocation must not masquerade as this
    run's result when the source drains zero batches: the drain clears its
    keyed snapshot dir first, so the isdir fallback means 'zero batches
    THIS run' (ADVICE r5: the old fixed shared path only covered a
    never-created dir)."""
    from bytesme_etl_batch_pipeline_spark.plans.queries import (
        _drain_stream_snapshot,
        _stream_snapshot_dir,
    )

    tag = "stale_drain_test"
    snap = _stream_snapshot_dir(tag)
    empty = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
    )
    # plant a stale non-empty snapshot at the exact keyed path
    spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-01 01:00:00", "stale", 99)],
        "window_start string, window_end string, event_type string, n int",
    ).write.mode("overwrite").parquet(snap)
    assert spark.read.parquet(snap).count() == 1

    src = str(tmp_path / "empty_events2")
    empty.write.parquet(src)
    stream = spark.readStream.schema(empty.schema).parquet(src)
    agg = stream_events.windowed_counts(stream)
    got = _drain_stream_snapshot(spark, agg, tag)
    assert got.count() == 0, "stale snapshot leaked into a zero-batch drain"


def test_stream_snapshot_lives_in_the_application_files_dir(spark, tmp_path):
    """Drain snapshots go under the driver's SparkFiles root, the
    ``userFiles-*`` directory Spark deletes at stop, so no application
    leaves a snapshot directory behind in the shared tempdir."""
    from pyspark import SparkFiles
    from pyspark.sql import functions as F

    from bytesme_etl_batch_pipeline_spark.plans.queries import (
        _drain_stream_snapshot,
        _stream_snapshot_dir,
    )

    root = SparkFiles.getRootDirectory()
    assert os.path.basename(root).startswith("userFiles-")
    snap = _stream_snapshot_dir("location_test")
    assert os.path.commonpath([root, snap]) == root

    src = str(tmp_path / "events")
    events = spark.createDataFrame(
        [(1, "2024-01-01 00:00:05", 7, "view", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    got = _drain_stream_snapshot(spark, stream_events.windowed_counts(stream), "location_test")
    assert got.count() == 1
    assert os.path.isdir(snap)


def test_multibatch_drain_of_ordered_directory_layout(spark, sf_dir, tmp_path):
    """read_events_stream(max_files_per_trigger=1) over a DIRECTORY-layout
    dump whose part files respect event-time order: per-file micro-batches
    merge window state across batches and still match the batch query.
    (The default single-batch drain is what unordered replays need; this
    pins the opt-in multi-batch path on a controlled, ordered layout.)"""
    import glob
    import shutil
    import time

    from pyspark.sql import functions as F

    from bytesme_etl_batch_pipeline_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    median = events.select(
        F.expr("percentile_approx(unix_micros(ts), 0.5)").alias("m")
    ).first()["m"]
    sf2 = tmp_path / "sf"
    dump = sf2 / "events.parquet"
    dump.mkdir(parents=True)
    now = time.time()
    for i, half in enumerate(
        [events.where(F.unix_micros("ts") <= F.lit(median)),
         events.where(F.unix_micros("ts") > F.lit(median))]
    ):
        staged = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(staged)
        (part,) = glob.glob(staged + "/part-*.parquet")
        dest = str(dump / f"part-{i:05d}.parquet")
        shutil.move(part, dest)
        # ascending mod-times: file listing order == event-time order
        os.utime(dest, (now - 600 * (2 - i), now - 600 * (2 - i)))

    stream = stream_events.read_events_stream(
        spark, str(sf2), max_files_per_trigger=1
    )
    agg = stream_events.windowed_counts(stream)
    with tempfile.TemporaryDirectory() as ckpt:
        stream_events.run_stream_to_memory(agg, "win_counts_mb", ckpt)
        n_batches = len(glob.glob(ckpt + "/offsets/*"))
    assert n_batches >= 2, "opt-in maxFilesPerTrigger must yield >1 micro-batch"
    got = spark.sql("SELECT * FROM win_counts_mb").collect()
    expected = catalog.SPARK_QUERIES["events_tumbling_window"](spark, sf_dir).collect()
    assert _sorted_rows(got) == _sorted_rows(expected)


def test_watermark_drops_late_data(spark, tmp_path):
    """Real watermark semantics: once the watermark passes a window's end,
    the window is finalized (emitted in append mode) and its state evicted —
    a late row for that window is DROPPED rather than re-aggregated or
    re-emitted. (Note Spark's actual contract: a late row into a NEVER-seen
    window may still create state and emit; dropping applies to evicted
    windows, which is what this test pins.)"""
    import datetime
    import tempfile

    from pyspark.sql import functions as F

    d = str(tmp_path / "late_events")
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    on_time = [(i, t0 + datetime.timedelta(hours=h), 1.0) for i, h in enumerate([0, 1, 2, 3, 10])]
    nudge = [(50, t0 + datetime.timedelta(hours=11), 1.0)]  # advances a batch boundary
    late = [(99, t0 + datetime.timedelta(hours=3), 1.0)]    # into an evicted window
    schema = "event_id long, ts timestamp, value double"
    spark.createDataFrame(on_time, schema).coalesce(1).write.parquet(d + "/batch1")
    spark.createDataFrame(nudge, schema).coalesce(1).write.parquet(d + "/batch2")
    spark.createDataFrame(late, schema).coalesce(1).write.parquet(d + "/batch3")
    # The file source orders micro-batches by file mtime — pin the order.
    # Three batches because windows finalize at the END of the batch after
    # the watermark advances: batch1 sets wm=8h, batch2 finalizes+evicts
    # windows 0-3, batch3's late row then hits evicted state → dropped.
    import glob as _glob
    import os as _os
    import time as _time

    now = _time.time()
    for i, b in enumerate(["batch1", "batch2", "batch3"]):
        for f in _glob.glob(d + f"/{b}/*"):
            _os.utime(f, (now - 3600 * (3 - i), now - 3600 * (3 - i)))

    stream = (
        spark.readStream.schema(spark.read.parquet(d + "/batch1").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/batch*")
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.format("memory")
            .queryName("late_test")
            .outputMode("append")  # append = only finalized windows, drops late
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    rows = spark.sql("SELECT * FROM late_test").collect()
    finalized = {}
    for r in rows:
        finalized.setdefault(r["ws"].hour, []).append(r["n"])
    # windows 0-3 finalized once the watermark (10h - 2h = 8h) passed them
    for h in (0, 1, 2, 3):
        assert finalized.get(h) == [1], finalized
    # the late duplicate into the finalized hour-3 window was dropped:
    # emitted exactly once, count stayed 1 (no re-emission, no n=2)
    assert len(finalized.get(3, [])) == 1


def test_foreach_batch_upsert_keyed_merge(spark, tmp_path):
    """foreachBatch upsert: re-arriving keys replace, new keys append, and
    the result is stable across the drain (idempotent by key)."""
    import tempfile

    from bytesme_etl_batch_pipeline_spark.streaming.events import (
        run_foreach_batch_upsert,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    schema = "k long, v string"
    # two files → (with maxFilesPerTrigger=1) two micro-batches; batch 2
    # updates k=1 and adds k=3
    spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1).write.parquet(
        src + "/f1"
    )
    spark.createDataFrame([(1, "a2"), (3, "c")], schema).coalesce(1).write.parquet(
        src + "/f2"
    )
    import glob as _glob
    import os as _os
    import time as _time

    now = _time.time()
    for i, b in enumerate(["f1", "f2"]):
        for f in _glob.glob(src + f"/{b}/*"):
            _os.utime(f, (now - 600 * (2 - i), now - 600 * (2 - i)))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    with tempfile.TemporaryDirectory() as ckpt:
        run_foreach_batch_upsert(stream, ["k"], target, ckpt)
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a2", 2: "b", 3: "c"}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming twin of D1 exact dedup: dropDuplicatesWithinWatermark
    removes re-arrivals of a key across micro-batches while the key is
    inside the watermark horizon — the bounded-state form of streaming
    dedup (a plain dropDuplicates on a stream would keep ALL keys
    forever)."""
    import datetime
    import tempfile

    from pyspark.sql import functions as F

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "dup_events")
    schema = "k long, ts timestamp, v string"
    # batch 1: keys 1,2 ; batch 2: key 1 re-arrives (dup) + new key 3
    spark.createDataFrame(
        [(1, t0, "a"), (2, t0 + datetime.timedelta(minutes=1), "b")], schema
    ).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(
        [(1, t0 + datetime.timedelta(minutes=2), "a-dup"),
         (3, t0 + datetime.timedelta(minutes=3), "c")], schema
    ).coalesce(1).write.parquet(src + "/b2")
    import glob as _glob
    import os as _os
    import time as _time

    now = _time.time()
    for i, b in enumerate(["b1", "b2"]):
        for f in _glob.glob(src + f"/{b}/*"):
            _os.utime(f, (now - 600 * (2 - i), now - 600 * (2 - i)))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["k"])
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            deduped.writeStream.format("memory")
            .queryName("stream_dedup")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = {r["k"]: r["v"] for r in spark.sql("SELECT * FROM stream_dedup").collect()}
    # the re-arrival of k=1 was dropped; first-seen value survives
    assert got == {1: "a", 2: "b", 3: "c"}


def test_incremental_dedup_stream_exactly_once(spark, tmp_path):
    """Unbounded cross-batch dedup with versioned digest state: a document
    re-arriving in a later batch is dropped; redelivering a batch (the
    foreachBatch at-least-once case) reproduces the same corpus."""
    import tempfile

    from bytesme_etl_batch_pipeline_spark.streaming.dedup import (
        make_incremental_dedup_step,
        run_incremental_dedup_stream,
    )

    src = str(tmp_path / "docs_src")
    corpus = str(tmp_path / "corpus")
    digests = str(tmp_path / "digests")
    schema = "doc_id long, text string"
    b1 = [(1, "alpha doc"), (2, "beta doc"), (3, "alpha doc")]  # in-batch dup
    b2 = [(4, "beta doc"), (5, "gamma doc")]                     # cross-batch dup
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/b2")
    import glob as _glob
    import os as _os
    import time as _time

    now = _time.time()
    for i, b in enumerate(["b1", "b2"]):
        for f in _glob.glob(src + f"/{b}/*"):
            _os.utime(f, (now - 600 * (2 - i), now - 600 * (2 - i)))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )
    with tempfile.TemporaryDirectory() as ckpt:
        run_incremental_dedup_stream(stream, "text", corpus, digests, ckpt)

    got = sorted(r["text"] for r in spark.read.parquet(corpus).collect())
    assert got == ["alpha doc", "beta doc", "gamma doc"]

    # redelivery: re-run batch 1's step with the SAME batch_id — the corpus
    # must not change (same fresh set recomputed against the v<1 state even
    # though v=1 already exists)
    step = make_incremental_dedup_step("text", corpus, digests)
    step(spark.createDataFrame(b2, schema), 1)
    got2 = sorted(r["text"] for r in spark.read.parquet(corpus).collect())
    assert got2 == got

    # digest retention: each v=N is the FULL seen-set, so old versions
    # must be pruned — after a third batch only the latest 2 remain, and
    # a redelivery of that batch still reproduces the same corpus from
    # the surviving prior version
    import os as _os2

    b3 = [(6, "gamma doc"), (7, "delta doc")]
    step(spark.createDataFrame(b3, schema), 2)
    assert sorted(_os2.listdir(digests)) == ["v=1", "v=2"]  # v=0 pruned
    step(spark.createDataFrame(b3, schema), 2)  # redelivery after prune
    got3 = sorted(r["text"] for r in spark.read.parquet(corpus).collect())
    assert got3 == ["alpha doc", "beta doc", "delta doc", "gamma doc"]


def test_foreach_batch_upsert_order_col_last_writer_wins(spark, tmp_path):
    """With order_col, a key updated twice within ONE micro-batch keeps the
    row with the greatest order value, deterministically."""
    import tempfile

    from bytesme_etl_batch_pipeline_spark.streaming.events import (
        run_foreach_batch_upsert,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    schema = "k long, v string, seq long"
    spark.createDataFrame(
        [(1, "stale", 1), (1, "fresh", 2), (2, "only", 1)], schema
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    with tempfile.TemporaryDirectory() as ckpt:
        run_foreach_batch_upsert(stream, ["k"], target, ckpt, order_col="seq")
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "fresh", 2: "only"}


def test_streaming_session_restart_recovers_state(spark, sf_dir, tmp_path):
    """VERDICT r3 item 6: a stop/checkpoint/restart cycle across a
    mid-stream shutdown must recover session-window state — sessions
    SPANNING the stop boundary merge after restart, and the final output
    is bit-equal to a single uninterrupted drain (and to the batch
    sessionizer). This is the recovery path a real deployment exercises
    on every redeploy."""
    import os

    from pyspark.sql import functions as F

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(events.dtypes).get("ts") == "bigint":
        events = events.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    # Pick the stop boundary INSIDE a session: midpoint between two
    # same-user events < 30 min apart (a median-of-timeline cutoff lands
    # in an inter-session gap and recovery would merge nothing).
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap_row = (
        events.withColumn("prev", F.lag("ts").over(w))
        .filter(
            F.col("prev").isNotNull()
            & (
                F.col("ts").cast("double") - F.col("prev").cast("double")
                < 1800
            )
            & (F.col("ts").cast("double") > F.col("prev").cast("double"))
        )
        .orderBy("user_id", "ts")
        .select(
            (
                (F.col("ts").cast("double") + F.col("prev").cast("double"))
                / 2
            ).alias("mid")
        )
        .limit(1)
        .collect()
    )
    assert gap_row, "no intra-session gap in testdata"
    cutoff = gap_row[0].mid
    first = events.filter(F.col("ts").cast("double") <= cutoff)
    second = events.filter(F.col("ts").cast("double") > cutoff)
    assert first.count() > 0 and second.count() > 0

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    # phase 1: only the first half of the timeline has arrived
    first.coalesce(1).write.mode("overwrite").parquet(landing)

    def start_and_drain(qname):
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        agg = stream_events.sessionized_counts(stream)
        stream_events.run_stream_to_memory(agg, qname, ckpt)
        rows = spark.sql(f"SELECT * FROM {qname}").collect()
        spark.catalog.dropTempView(qname)
        return rows

    start_and_drain("sess_restart_a")  # stop = availableNow termination

    # phase 2: the rest of the timeline lands, query RESTARTS from the
    # same checkpoint (fresh memory sink; state store carries sessions)
    second.coalesce(1).write.mode("append").parquet(landing)
    got = start_and_drain("sess_restart_b")

    # single uninterrupted drain over the full landing dir
    with tempfile.TemporaryDirectory() as ckpt2:
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        agg = stream_events.sessionized_counts(stream)
        stream_events.run_stream_to_memory(agg, "sess_oneshot", ckpt2)
    oneshot = spark.sql("SELECT * FROM sess_oneshot").collect()
    spark.catalog.dropTempView("sess_oneshot")
    assert _sorted_rows(got) == _sorted_rows(oneshot)

    # and equal to the batch sessionizer over the same rows
    batch = (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
        .collect()
    )
    assert _sorted_rows(got) == _sorted_rows(batch)

    # exact spanning check: merged output must differ from phase-1-only
    # sessions for at least one user (otherwise the boundary split nothing
    # and the test isn't exercising recovery)
    with tempfile.TemporaryDirectory() as ckpt3, tempfile.TemporaryDirectory() as land1:
        first.coalesce(1).write.mode("overwrite").parquet(land1)
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land1)
        )
        stream_events.run_stream_to_memory(
            stream_events.sessionized_counts(stream), "sess_half", ckpt3
        )
    half = spark.sql("SELECT * FROM sess_half").collect()
    spark.catalog.dropTempView("sess_half")
    half_keys = {(r.user_id, r.session_start, r.n_events) for r in half}
    merged_new = [
        r
        for r in got
        if (r.user_id, r.session_start, r.n_events) not in half_keys
    ]
    half_only = [
        k for k in half_keys
        if k not in {(r.user_id, r.session_start, r.n_events) for r in got}
    ]
    assert half_only, "phase-1 output unchanged — nothing spanned the stop"
    assert merged_new, (
        "no session spans the restart boundary — split point is not "
        "exercising state recovery"
    )


def _upsert_batches(spark):
    schema = "k long, v string"
    return (
        spark.createDataFrame([(1, "a"), (2, "b")], schema),
        spark.createDataFrame([(2, "B"), (3, "c")], schema),
    )


@pytest.mark.parametrize("crash_after", [0, 1, 2, 3])
def test_upsert_sink_crash_retry_never_loses_store(spark, tmp_path, crash_after):
    """Crash the upsert publish after each mutation count: 0-2 crash at
    the swap's three mutations (rename target aside, promote staging,
    drop the retired copy), 3 runs clean. A readable pre-batch-or-newer
    copy (target or its retired sibling) must survive every window, and a
    clean redelivery must converge to the batch-wins result."""
    import shutil

    from bytesme_etl_batch_pipeline_spark.sources.files import protocol_sibling
    from tests.crashinject import crash_after as _crash

    target = str(tmp_path / "t")
    step = stream_events.make_upsert_step(["k"], target)
    b1, b2 = _upsert_batches(spark)
    step(b1, 0)

    with _crash(crash_after, (os, "rename"), (shutil, "rmtree")) as calls:
        try:
            step(b2, 1)
            crashed = False
        except OSError:
            crashed = True
    assert crashed == (crash_after < 3)
    assert calls[0] == crash_after

    retired = protocol_sibling(target, "retired")
    assert os.path.isdir(target) or os.path.isdir(retired)
    if crashed:
        step(b2, 1)  # the clean at-least-once redelivery
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    assert not os.path.exists(retired)
    assert not os.path.exists(protocol_sibling(target, "staging"))


def test_upsert_sink_double_crash_keeps_a_copy(spark, tmp_path):
    """Two crashes in a row: crash mid-swap (only the retired sibling
    holds the store), then crash the redelivery at the same point, after
    its entry recovery restored the store and dropped the stale staging
    dir (mutations 0-1) and its swap retired it again (2). A copy
    survives both, and the third attempt converges."""
    import shutil

    from bytesme_etl_batch_pipeline_spark.sources.files import protocol_sibling
    from tests.crashinject import crash_after as _crash

    target = str(tmp_path / "t2")
    step = stream_events.make_upsert_step(["k"], target)
    b1, b2 = _upsert_batches(spark)
    step(b1, 0)

    for n in (1, 3):
        with _crash(n, (os, "rename"), (shutil, "rmtree")):
            with pytest.raises(OSError, match="injected crash"):
                step(b2, 1)
        assert not os.path.isdir(target)
        assert os.path.isdir(protocol_sibling(target, "retired"))

    step(b2, 1)
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


@pytest.mark.parametrize("crash_after", [0, 1, 2])
def test_upsert_sink_protocol_dirs_invisible_to_partitioned_readers(
    spark, tmp_path, crash_after
):
    """An upsert store at ``root/part=0`` is one partition of the table
    at ``root``. While a crashed batch's protocol dirs sit beside it, a
    reader of ``root`` must see only ``part=0`` rows — never a junk
    partition value such as ``0.old`` or ``0.tmp`` — and the redelivery
    must converge."""
    import shutil

    from tests.crashinject import crash_after as _crash

    root = str(tmp_path / "tbl")
    step = stream_events.make_upsert_step(["k"], os.path.join(root, "part=0"))
    b1, b2 = _upsert_batches(spark)
    step(b1, 0)

    with _crash(crash_after, (os, "rename"), (shutil, "rmtree")):
        with pytest.raises(OSError, match="injected crash"):
            step(b2, 1)
    rows = spark.read.schema("k long, v string").parquet(root).collect()
    assert {str(r["part"]) for r in rows} <= {"0"}
    assert {r["k"]: r["v"] for r in rows} in (
        {},  # mid-swap: the store is parked at its hidden retired sibling
        {1: "a", 2: "b"},
        {1: "a", 2: "B", 3: "c"},
    )

    step(b2, 1)
    rows = spark.read.parquet(root).collect()
    assert sorted((r["k"], r["v"], r["part"]) for r in rows) == [
        (1, "a", 0), (2, "B", 0), (3, "c", 0)
    ]


def test_upsert_sink_restores_store_parked_by_old_sink(spark, tmp_path):
    """Upgrade safety: the sink's earlier publish parked the store at
    ``<target>.old`` and staged at ``<target>.tmp``; a crash between its
    two renames left ``.old`` as the only copy. The next batch must merge
    into that store, not read a first load, and leave neither dir."""
    target = str(tmp_path / "t")
    step = stream_events.make_upsert_step(["k"], target)
    b1, b2 = _upsert_batches(spark)
    step(b1, 0)
    os.rename(target, target + ".old")
    os.makedirs(target + ".tmp")

    step(b2, 1)
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    assert not os.path.exists(target + ".old")
    assert not os.path.exists(target + ".tmp")


def test_upsert_sink_null_order_and_null_keys(spark, tmp_path):
    """Junk-hardening of the keyed upsert: (a) a key whose batch rows all
    carry NULL order_col must keep a REAL row (max_by over an all-NULL
    ordering column returns an all-NULL struct — key data would be
    replaced by NULLs); (b) NULL keys form ONE group, replaced across
    batches like any key (a null-unsafe anti-join would accumulate one
    NULL-key row per batch forever)."""
    target = str(tmp_path / "t")
    step = stream_events.make_upsert_step(["k"], target, order_col="seq")
    schema = "k long, v string, seq long"

    b1 = spark.createDataFrame(
        [(1, "a", None), (1, "b", None), (None, "j1", 5)], schema
    )
    step(b1, 0)
    got = {(r["k"], r["v"]) for r in spark.read.parquet(target).collect()}
    # k=1 kept a real row (either — both have NULL seq), NULL key stored once
    assert (None, "j1") in got
    assert len([x for x in got if x[0] == 1]) == 1
    assert all(k is not None or v == "j1" for k, v in got)

    b2 = spark.createDataFrame(
        [(1, "c", 10), (None, "j2", 6)], schema
    )
    step(b2, 1)
    got = {(r["k"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "c"), (None, "j2")}, got  # both keys REPLACED, no growth


def test_upsert_sink_non_null_order_beats_null(spark, tmp_path):
    """Within a batch, a row with a real order value wins over a NULL-order
    row for the same key (desc NULLS LAST)."""
    target = str(tmp_path / "t")
    step = stream_events.make_upsert_step(["k"], target, order_col="seq")
    b = spark.createDataFrame(
        [(1, "null-seq", None), (1, "real-seq", 3)], "k long, v string, seq long"
    )
    step(b, 0)
    got = [(r["k"], r["v"]) for r in spark.read.parquet(target).collect()]
    assert got == [(1, "real-seq")]
