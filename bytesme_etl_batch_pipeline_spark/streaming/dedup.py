"""Streaming exact dedup with persistent cross-run state.

``dropDuplicatesWithinWatermark`` bounds dedup state by a time horizon; a
training-data corpus needs the UNBOUNDED guarantee — a document seen in any
earlier batch (or earlier run) never re-enters. That state is the digest
set of ``operators.dedup.incremental_dedup``, persisted as parquet and
versioned per micro-batch so the sink is idempotent under foreachBatch's
at-least-once redelivery:

* fresh rows land at ``corpus/batch_id=N`` with overwrite — a redelivered
  batch rewrites its own directory, never duplicates;
* the digest set lands at ``digests/v=N``, and batch N always reads the
  newest version < N — so a redelivery recomputes the SAME fresh set even
  if the crash happened after the digest write (reading one's own output
  would instead drop the whole batch on retry);
* old versions are pruned after each write (each ``v=N`` is the FULL
  seen-set; retaining them all would grow storage as O(batches ×
  corpus)) — only the latest 2 are needed: the new version plus the one
  a redelivery of the last uncommitted batch re-reads.

On a lakehouse the two writes collapse into one Delta/Iceberg transaction;
this is the dependency-free form with the same guarantees.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame

from ..operators.dedup import incremental_dedup

#: Digest versions kept after each batch: the one just written plus the
#: one a redelivery of that batch re-reads (see the module docstring).
_RETAIN_DIGEST_VERSIONS = 2


def _latest_digest_version(digests_path: str, before: int) -> int | None:
    if not os.path.isdir(digests_path):
        return None
    versions = [
        int(m.group(1))
        for d in os.listdir(digests_path)
        if (m := re.fullmatch(r"v=(\d+)", d))
    ]
    prior = [v for v in versions if v < before]
    return max(prior) if prior else None


def make_incremental_dedup_step(text_col: str, corpus_path: str, digests_path: str):
    """Build the foreachBatch body (exposed for direct idempotence tests).

    After each successful write, digest versions older than the newest
    ``_RETAIN_DIGEST_VERSIONS`` are pruned — every ``v=N`` is the FULL
    seen-set, so keeping all of them grows storage as O(batches ×
    corpus); only the newest version ``< batch_id`` is ever read, and the
    structured-streaming checkpoint can redeliver at most the last
    uncommitted batch, so 2 (the new version plus the one a redelivery of
    THIS batch would re-read) is the correctness minimum. Pruning is
    idempotent — a crash mid-prune just leaves extra versions for the
    next batch to remove."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if os.path.isdir(digests_path):
            # A version NEWER than this batch means the stream restarted with
            # a fresh checkpoint (batch ids reset) against existing state —
            # proceeding would ignore later digests and overwrite corpus
            # batch dirs. (v == batch_id is the legitimate redelivery case.)
            newer = [
                int(m.group(1))
                for d in os.listdir(digests_path)
                if (m := re.fullmatch(r"v=(\d+)", d)) and int(m.group(1)) > batch_id
            ]
            if newer:
                raise RuntimeError(
                    f"digest state at {digests_path} has versions {sorted(newer)} "
                    f"newer than batch {batch_id}: the stream checkpoint was "
                    "reset against existing state. Resume with the original "
                    "checkpoint, or point the sink at fresh corpus/digest paths."
                )
        prior = _latest_digest_version(digests_path, before=batch_id)
        seen = (
            spark.read.parquet(f"{digests_path}/v={prior}")
            if prior is not None
            else None
        )
        fresh, updated = incremental_dedup(batch_df, seen, text_col)
        fresh.write.mode("overwrite").parquet(f"{corpus_path}/batch_id={batch_id}")
        updated.write.mode("overwrite").parquet(f"{digests_path}/v={batch_id}")
        cutoff = batch_id - (_RETAIN_DIGEST_VERSIONS - 1)
        for d in os.listdir(digests_path):
            if (m := re.fullmatch(r"v=(\d+)", d)) and int(m.group(1)) < cutoff:
                shutil.rmtree(os.path.join(digests_path, d), ignore_errors=True)

    return step


def run_incremental_dedup_stream(
    stream: DataFrame,
    text_col: str,
    corpus_path: str,
    digests_path: str,
    checkpoint_dir: str,
) -> None:
    """Drain a document stream into an exactly-once deduped corpus."""
    q = (
        stream.writeStream.foreachBatch(
            make_incremental_dedup_step(text_col, corpus_path, digests_path)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
