"""The engine's Python worker daemon (``worker_daemon``): start-up archives
skip the per-task zip re-read, late archives keep it, and ``get_spark``
names the daemon only when workers can import the package."""

from __future__ import annotations

import os
import zipfile

import pytest

from bytesme_etl_batch_pipeline_spark import session, worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _stock_importers_of_startup_archives(_):
    """Inside a worker: (start-up zip importers, those still carrying the
    stock ``invalidate_caches``). The daemon's start-up ``sys.path`` zips
    are the worker's ``PYTHONPATH`` files."""
    import sys
    import zipimport

    startup = {p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if os.path.isfile(p)}
    mine = [
        f for f in list(sys.path_importer_cache.values())
        if isinstance(f, zipimport.zipimporter) and f.archive in startup
    ]
    stock = [
        f.archive for f in mine
        if type(f).invalidate_caches is zipimport.zipimporter.invalidate_caches
    ]
    yield (len(mine), stock)


def test_startup_archives_skip_the_per_task_reread(spark):
    sc = spark.sparkContext
    n, stock = sc.parallelize([0], 1).mapPartitions(_stock_importers_of_startup_archives).collect()[0]
    assert n > 0, "the worker imported nothing from its start-up archives"
    assert stock == [], f"start-up archives still re-read per task: {sorted(set(stock))}"


def test_late_pyfile_zip_still_imports(spark, tmp_path):
    """A zip shipped by ``addPyFile`` after the workers started keeps the
    standard importer and imports inside a UDF."""
    z = tmp_path / "late_zip_mod.zip"
    _write_zip(z, {"late_zip_mod": "VALUE = 17\n"})
    spark.sparkContext.addPyFile(str(z))

    def use(_):
        import late_zip_mod

        yield late_zip_mod.VALUE

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(use).collect() == [17]


def test_importer_rereads_only_archives_added_after_startup(tmp_path, monkeypatch):
    """Spark-free: after a zip changes, ``invalidate_caches`` makes a late
    archive's new module visible, while a start-up archive keeps the
    directory it read."""
    late, early = tmp_path / "late.zip", tmp_path / "early.zip"
    for z in (late, early):
        _write_zip(z, {"a_mod": ""})
    monkeypatch.setattr(worker_daemon, "STARTUP_ARCHIVES", frozenset({str(early)}))
    importers = {z: worker_daemon.StartupZipImporter(str(z)) for z in (late, early)}
    for z, imp in importers.items():
        _write_zip(z, {"a_mod": "", "b_mod": ""})
        imp.invalidate_caches()
    assert importers[late].find_spec("b_mod") is not None
    assert importers[early].find_spec("b_mod") is None


@pytest.mark.parametrize("where", ["cwd", "pythonpath", "neither"])
def test_daemon_conf_needs_an_importable_package(where, tmp_path, monkeypatch):
    """Spark-free: the daemon module is set only when the package's parent
    is the cwd or on ``PYTHONPATH``; otherwise every Python task would fail
    to start its daemon."""
    parent = session.PACKAGE_PARENT
    monkeypatch.chdir(parent if where == "cwd" else tmp_path)
    path = [str(tmp_path / "elsewhere")] + ([parent] if where == "pythonpath" else [])
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(path))
    conf = session.worker_daemon_conf()
    if where == "neither":
        assert conf == {}
    else:
        assert conf == {
            "spark.python.daemon.module": "bytesme_etl_batch_pipeline_spark.worker_daemon"
        }
