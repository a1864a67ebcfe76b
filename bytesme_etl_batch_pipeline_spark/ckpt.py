"""Materialization: the one place the engine pins an intermediate result.

The engine stores nothing between pipeline stages or query branches unless
a site asks for it here. ``materialize(df)`` is that request, and its
contract is the same for every caller:

* **executor-local.** The rows are stored as blocks on the executors that
  computed them (``DataFrame.localCheckpoint``), not on reliable storage.
  A lost executor loses its blocks and the consuming job fails; nothing
  recomputes them.
* **no lineage.** The returned frame's plan is a scan of those blocks
  (a ``LogicalRDD``), so each consumer reads the rows instead of replaying
  the producing plan, and an iterative loop's plan stops growing.
* **AQE applies.** The producing plan runs as an ordinary adaptive query:
  on Spark 4.1.2 a 4-partition ``groupBy`` under 64 shuffle partitions
  comes back with 1 partition, as it does under ``cache()``.
* **pinned until released or garbage-collected.** ``DataFrame.unpersist``
  does nothing to these blocks (they are an RDD's, not a CacheManager
  entry). ``release(df)`` frees them; otherwise Spark's ContextCleaner
  frees them once the JVM drops the last reference to the frame. The
  blocks are the only copy of the rows: release a frame only when nothing
  will read it, or anything derived from it, again.

``eager=True`` (the default) runs the job now. ``eager=False`` defers the
rows to the first job that reads the frame, which stores them as it goes;
under AQE the plan's shuffle stages still run when the frame is built.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df``'s rows pinned as executor-local blocks; see the module
    docstring for the contract."""
    return df.localCheckpoint(eager=eager)


def release(df: DataFrame) -> None:
    """Free the blocks that ``df``'s own ``materialize`` pinned, and no
    others. ``df`` must be the frame ``materialize`` returned: its plan is
    the ``LogicalRDD`` whose RDD holds the blocks."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        raise ValueError("release() takes a frame returned by materialize()")
    plan.rdd().unpersist(False)


# The benchmark's tracer (perfbench/tracing.py) wraps this name.
tracked_local_checkpoint = materialize
