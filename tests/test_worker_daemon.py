"""The package's Python worker daemon (``worker_daemon``): a task that adds
nothing to ``sys.path`` does not re-read the import archives, a task after
``addPyFile`` does, and the added modules import."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile

import pytest

from downscaledclimatedata_spark.worker_daemon import PathKeyedImportlib


def _worker_census(spark, n_tasks, modules=()):
    """{pid: (shim class name, full flushes, values of ``modules``' ``VALUE``)}
    over ``n_tasks`` tasks."""

    def probe(_):
        import importlib as il
        import os as o
        import sys as s
        shim = s.modules["pyspark.worker_util"].importlib
        yield (o.getpid(), type(shim).__name__, getattr(shim, "flushes", None),
               tuple(il.import_module(m).VALUE for m in modules))

    rows = spark.sparkContext.parallelize(range(n_tasks), n_tasks) \
        .mapPartitions(probe).collect()
    out = {}
    for pid, shim, flushes, values in rows:
        # a worker that ran several tasks of the job reports the same count
        assert out.setdefault(pid, (shim, flushes, values)) == (shim, flushes, values)
    return out


def test_warm_task_skips_flush_and_added_pyfiles_flush_once(spark, tmp_path):
    if not spark.sparkContext.master.startswith("local"):
        pytest.skip("the package daemon runs on local masters only")
    n = spark.sparkContext.defaultParallelism
    first = _worker_census(spark, n)
    # a pyspark upgrade that moves the call must fail here, not lose the saving
    assert {shim for shim, _, _ in first.values()} == {"PathKeyedImportlib"}
    assert all(flushes >= 1 for _, flushes, _ in first.values())

    second = _worker_census(spark, n)
    warm = first.keys() & second.keys()
    assert warm, "no Python worker was reused between jobs"
    for pid in warm:
        assert second[pid][1] == first[pid][1], "a warm task flushed"

    tag = uuid.uuid4().hex[:8]
    py_mod, zip_mod = f"dcd_pyfile_{tag}", f"dcd_zipfile_{tag}"
    py_path = tmp_path / f"{py_mod}.py"
    py_path.write_text("VALUE = 'py'\n")
    zip_path = tmp_path / f"{zip_mod}.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr(f"{zip_mod}.py", "VALUE = 'zip'\n")
    spark.sparkContext.addPyFile(str(py_path))
    spark.sparkContext.addPyFile(str(zip_path))

    third = _worker_census(spark, n, modules=(py_mod, zip_mod))
    assert {values for _, _, values in third.values()} == {("py", "zip")}
    for pid in third.keys() & second.keys():
        assert third[pid][1] == second[pid][1] + 1


def test_unchanged_path_still_sees_new_file_in_a_listed_directory(tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(str(tmp_path))
    shim = PathKeyedImportlib()
    shim.invalidate_caches()
    shim.invalidate_caches()
    assert shim.flushes == 1

    tag = uuid.uuid4().hex[:8]
    (tmp_path / f"dcd_a_{tag}.py").write_text("VALUE = 1\n")
    shim.invalidate_caches()
    importlib.import_module(f"dcd_a_{tag}")  # the directory's listing is now cached
    listed = os.stat(tmp_path)
    (tmp_path / f"dcd_b_{tag}.py").write_text("VALUE = 2\n")
    # a file system with coarse timestamps can leave the directory's mtime
    # as it was when the listing was cached
    os.utime(tmp_path, ns=(listed.st_atime_ns, listed.st_mtime_ns))
    shim.invalidate_caches()
    assert importlib.import_module(f"dcd_b_{tag}").VALUE == 2
    assert shim.flushes == 1
    for name in (f"dcd_a_{tag}", f"dcd_b_{tag}"):
        sys.modules.pop(name, None)
