"""``ckpt`` is the engine's one materialization primitive: ``release`` frees
exactly the frame it is given, and no other module calls Spark's
materialization APIs."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from bytesme_etl_batch_pipeline_spark import ckpt

PACKAGE = Path(ckpt.__file__).parent


def _pinned(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def test_release_frees_only_its_own_frame(spark):
    """Materialize A, B and C, release B: B's blocks go, and A and C are
    still read from their blocks (the counting stage does not run again)."""
    acc = spark.sparkContext.accumulator(0)

    def tick(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    def counted(n):
        return spark.range(n).coalesce(1).mapInPandas(tick, schema="id long")

    before = _pinned(spark)
    a, b, c = (ckpt.materialize(counted(n)) for n in (3, 5, 7))
    assert acc.value == 15
    ids = {
        name: df._jdf.queryExecution().analyzed().rdd().id()
        for name, df in zip("abc", (a, b, c))
    }
    assert _pinned(spark) - before == set(ids.values())

    ckpt.release(b)
    assert _pinned(spark) - before == {ids["a"], ids["c"]}
    assert (a.count(), c.count()) == (3, 7)
    assert acc.value == 15, "releasing B made A or C recompute"
    ckpt.release(a)
    ckpt.release(c)
    assert _pinned(spark) == before


def test_release_rejects_a_frame_it_did_not_pin(spark):
    with pytest.raises(ValueError, match="materialize"):
        ckpt.release(spark.range(3))


# pattern -> the modules (relative to the package) allowed to contain it
_OWNED = {
    r"localCheckpoint": {"ckpt.py"},
    r"\bcheckpoint\(": {"ckpt.py"},
    r"\bpersist\(": {"ckpt.py"},
    r"getPersistentRDDs": {"ckpt.py"},
    # the min-label loop lets its convergence job fill a lazy cache
    r"\.cache\(\)": {"ckpt.py", "operators/graph.py"},
    r"unpersist": {"ckpt.py", "operators/graph.py"},
}


def test_materialization_lives_in_ckpt():
    """No module outside ``ckpt.py`` checkpoints, persists or counts pinned
    RDDs (comments and docstrings included); only ``graph.py`` caches."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for pattern, owners in _OWNED.items():
                if rel not in owners and re.search(pattern, line):
                    found.append(f"{rel}:{lineno}: {line.strip()}")
    assert not found, "\n".join(found)
