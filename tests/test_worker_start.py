"""Python worker start-up: tasks do not re-read Spark's archives.

Every task's file setup ends in ``importlib.invalidate_caches()``, which
re-reads each cached zipimporter's archive (compat.py, "Python worker
start-up"). Both tests run on the session's default daemon, whose workers
import ``sycamore_spark`` only when a task needs it.
"""

import uuid
import zipfile

import pytest


def test_task_keeps_no_importer_of_a_pythonpath_archive(spark):
    def archive_importers(_):
        import importlib
        import os
        import sys
        import zipimport

        import sycamore_spark  # noqa: F401

        importlib.invalidate_caches()  # what the next task's setup runs
        archives = {
            os.path.abspath(p) for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if os.path.isfile(p)
        }
        kept = [
            path for path, f in sys.path_importer_cache.items()
            if type(f) is zipimport.zipimporter and os.path.abspath(f.archive) in archives
        ]
        return [(len(archives), kept)]

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(archive_importers).collect()
    if not any(n for n, _ in got):
        pytest.skip("the workers have no archive on PYTHONPATH")
    assert [kept for _, kept in got] == [[]] * 4


def test_add_py_file_module_still_imports(spark, tmp_path):
    """An ``addPyFile`` archive is on ``sys.path``, not ``PYTHONPATH``: its
    module imports inside a task, and its importer is kept (and so still
    refreshed on every task)."""
    name = f"shipped_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def shipped(_):
        import importlib
        import sys
        import zipimport

        import sycamore_spark  # noqa: F401

        value = importlib.import_module(name).VALUE
        importlib.invalidate_caches()
        kept = any(
            isinstance(f, zipimport.zipimporter) and f.archive.endswith(f"{name}.zip")
            for f in sys.path_importer_cache.values()
        )
        return [(value, kept)]

    assert spark.sparkContext.parallelize(range(2), 2).mapPartitions(shipped).collect() == [(42, True)] * 2
