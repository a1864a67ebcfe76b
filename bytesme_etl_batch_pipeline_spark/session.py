"""SparkSession factory.

Centralizes the engine's Spark configuration so tests, the driver entry point,
and the bench harness all run with the same (scale-aware) settings.

Scale notes (100 TB target):
* AQE on — runtime coalescing of shuffle partitions + skew-join splitting are
  the first line of defense against skewed keys on a real cluster.
* ``spark.sql.shuffle.partitions`` defaults to a small number locally; on a
  1000-executor cluster the AQE coalesce starts from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` so we leave the
  static value as a local-test knob only.
* Arrow on — every pandas UDF in this engine is Arrow-batched.

Python workers start from ``worker_daemon`` (``spark.python.daemon.module``)
instead of ``pyspark.daemon``. Each Python task calls
``importlib.invalidate_caches()``, which on Python 3.11 re-reads every zip
archive on the worker's ``sys.path`` (``pyspark.zip``, py4j, the spark-core
jar): about 0.2 s per task before any row moves. The engine's daemon skips
that re-read for the archives present at daemon start and then runs
``pyspark.daemon`` unchanged. Workers must import the package to start it,
so ``get_spark`` sets the conf only when the driver's cwd or a
``PYTHONPATH`` entry holds the package's parent directory (the engine's
UDFs need the same). A cluster deploy that ships the package on the
executors' ``PYTHONPATH`` sets the same conf in its spark-submit config.

PySpark's per-call origin capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on, every
``F.*`` call and Column method makes six extra JVM round trips
(``getActiveSession``, ``isDefined``, ``get``, ``PySparkCurrentOrigin.set``,
``clear`` and a conf read) to record the Python file:line that built the
expression. A warm build of ``read_csv`` and the three reference pipeline
stages over one CSV took 2,837 round trips with it and 1,107 without (4
cores); that capture was most of the driver time of an ETL pass in which
no Spark job ran. The cost: an analysis or runtime error raised from a Column no longer
carries PySpark's "DataFrame context" (the Python line that built it).
``run_pipeline`` errors still name the stage and the input, and the error
message itself is unchanged.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

import pyspark.errors.utils as pyspark_errors_utils
from py4j.clientserver import ClientServerConnection
from pyspark.sql import SparkSession

from .sources.tables import ensure_session_confs

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ORIGIN_CAPTURE_CONF = "spark.python.sql.dataFrameDebugging.enabled"
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_daemon_conf() -> dict[str, str]:
    """``spark.python.daemon.module`` = the engine's ``worker_daemon`` when
    local Python workers can import this package (the driver's cwd or a
    ``PYTHONPATH`` entry is its parent directory), else nothing: a daemon
    module the workers cannot import fails every Python task."""
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    parent = os.path.realpath(PACKAGE_PARENT)
    if any(os.path.realpath(r or os.curdir) == parent for r in roots):
        return {"spark.python.daemon.module": f"{__package__}.worker_daemon"}
    return {}


def get_spark(
    app_name: str = "bytesme-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local default is ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    caller passes ``master=None`` and lets spark-submit own it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Let AQE re-plan (coalesce/skew-split) the subtree that feeds a
        # cached plan — off by default, which made materializing the cached
        # LSH edge list 3× slower than the identical uncached plan (every
        # tiny shuffle fanned out to the static partition count). The
        # iterative consumers (connected components, incremental dedup)
        # re-shuffle per round anyway, so the cached partitioning is not a
        # co-location contract anywhere in this engine.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config(ORIGIN_CAPTURE_CONF, "false")
    )
    for k, v in {**worker_daemon_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_session_confs(spark)
    # PySpark reads the capture switch once per process; drop that cached
    # read so a session built here holds even when an earlier session of
    # this process was read first.
    pyspark_errors_utils._enable_debugging_cache = None
    return spark


def shuffle_width(spark: SparkSession) -> int:
    """The session's shuffle width: ``spark.sql.shuffle.partitions``, or
    ``defaultParallelism`` when that conf is not an integer (e.g. "auto"
    under some AQE setups). The one reader for operators that pin an
    exchange at the width every other shuffle gets."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


@contextlib.contextmanager
def gateway_round_trips() -> Iterator[dict[str, int]]:
    """Count the py4j commands this process sends to the JVM while the
    block runs, in the yielded ``{"n": count}``: each is one round trip of
    plan construction. GC dereferences (``m\\nd\\n``) are left out; their
    number depends on when Python collects garbage."""
    seen = {"n": 0}
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            seen["n"] += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        yield seen
    finally:
        ClientServerConnection.send_command = send
