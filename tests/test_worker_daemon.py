"""daemon.py: Python workers of a get_spark session keep pyspark.zip's
import caches across tasks, still see files shipped mid-session, start from
any cwd, and fall back to the stock path when PySpark changes shape."""

from __future__ import annotations

import importlib
import importlib.util
import logging
import os
import subprocess
import sys
import zipfile
import zipimport

import pyspark
import pytest
from pyspark import worker, worker_util

from bloom_filters_count_min_sketch_spark_streaming_spark import daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "bloom_filters_count_min_sketch_spark_streaming_spark"


def test_reused_worker_keeps_pyspark_zip_directory(spark):
    # defined here so it pickles by value: workers cannot import tests/
    def _zip_cache_probe(_row):
        """Runs in a worker: (pid, whether the shim is active, whether
        pyspark.zip's cached directory is the very object the previous task on
        this worker saw; None on a worker's first probe or when pyspark is not
        imported from a zip)."""
        import types
        import zipimport

        import pyspark
        from pyspark import worker_util

        from bloom_filters_count_min_sketch_spark_streaming_spark import daemon

        archive = pyspark.__file__.rpartition(".zip")[0] + ".zip"
        current = zipimport._zip_directory_cache.get(archive)  # noqa: SLF001
        # Holding the previous task's object keeps its id from being reused.
        memo = sys.modules.setdefault("_zip_cache_probe_memo", types.ModuleType("_zip_cache_probe_memo"))
        previous = getattr(memo, "seen", None)
        memo.seen = current
        same = None if previous is None or current is None else previous is current
        return os.getpid(), worker_util.importlib is daemon.IMPORTLIB_VIEW, same

    sc = spark.sparkContext
    seen = []
    for _ in range(2 * sc.defaultParallelism + 2):
        seen += sc.parallelize([0], 1).map(_zip_cache_probe).collect()
    assert all(active for _, active, _ in seen), seen
    repeats = [same for _, _, same in seen if same is not None]
    assert repeats, f"no task landed on a worker that had run one before: {seen}"
    assert all(repeats), seen


def test_py_file_shipped_mid_session_imports_in_workers(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize(range(sc.defaultParallelism), sc.defaultParallelism).count()  # warm workers
    name = f"shipped_{os.getpid()}_{tmp_path.name.replace('-', '_')}"
    path = tmp_path / f"{name}.py"
    path.write_text("VALUE = 42\n")
    sc.addPyFile(str(path))
    got = (
        sc.parallelize(range(2 * sc.defaultParallelism), sc.defaultParallelism)
        .map(lambda _: importlib.import_module(name).VALUE)
        .collect()
    )
    assert got == [42] * (2 * sc.defaultParallelism)


def test_get_spark_workers_start_from_any_cwd(tmp_path):
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        f"from {PKG}.session import get_spark\n"
        "s = get_spark('cwd-probe')\n"
        "names = s.sparkContext.parallelize(range(2), 2).map(lambda _: __import__("
        "'pyspark.worker_util', fromlist=['_']).importlib.invalidate_caches.__name__).collect()\n"
        "print('RESULT', s.sparkContext.parallelize(range(8), 2).map(lambda x: x * 2).sum(), *names)\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2", SPARK_LOCAL_DIRS=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd="/tmp", env=env, capture_output=True, text=True, timeout=300
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT")]
    assert lines == ["RESULT 56 invalidate_caches_keeping_zips invalidate_caches_keeping_zips"], (
        proc.stdout + proc.stderr[-3000:]
    )


def test_shim_is_active_on_installed_pyspark(monkeypatch):
    monkeypatch.setattr(worker_util, "importlib", worker_util.importlib)
    assert daemon.install(), "PySpark changed shape: the worker daemon runs the stock path"
    assert worker_util.importlib is daemon.IMPORTLIB_VIEW
    assert worker_util.importlib.import_module is importlib.import_module
    assert daemon.install()  # idempotent


@pytest.mark.parametrize("drift", ["no_importlib", "setup_moved", "no_worker_util"])
def test_drifted_pyspark_runs_stock_path_with_one_warning(monkeypatch, caplog, drift):
    monkeypatch.setattr(worker_util, "importlib", worker_util.importlib)
    if drift == "no_importlib":
        monkeypatch.delattr(worker_util, "importlib")
    elif drift == "setup_moved":
        monkeypatch.setattr(worker, "setup_spark_files", lambda infile: None)
    else:
        monkeypatch.delattr(pyspark, "worker_util")
        monkeypatch.setitem(sys.modules, "pyspark.worker_util", None)
    with caplog.at_level(logging.WARNING, logger=daemon.__name__):
        assert daemon.install() is False
    assert len(caplog.records) == 1
    assert getattr(worker_util, "importlib", None) is not daemon.IMPORTLIB_VIEW


def test_invalidation_keeps_zip_directories_and_resets_other_finders(tmp_path, monkeypatch):
    archive = tmp_path / "zipped.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipped_pkg_probe/__init__.py", "VALUE = 1\n")
    plain = tmp_path / "plain"
    plain.mkdir()
    monkeypatch.syspath_prepend(str(plain))
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "zipped_pkg_probe", raising=False)
    assert importlib.import_module("zipped_pkg_probe").VALUE == 1
    sys.modules.pop("zipped_pkg_probe")
    files = zipimport._zip_directory_cache[str(archive)]  # noqa: SLF001
    assert importlib.util.find_spec("no_such_module_probe") is None  # caches every path entry's finder
    finder = sys.path_importer_cache[str(plain)]

    daemon.invalidate_caches_keeping_zips()

    assert zipimport._zip_directory_cache[str(archive)] is files  # noqa: SLF001
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
    assert finder._path_mtime == -1  # noqa: SLF001 - FileFinder re-lists its dir on next lookup
    (plain / "plain_mod_probe.py").write_text("VALUE = 2\n")
    assert importlib.import_module("plain_mod_probe").VALUE == 2
    sys.modules.pop("plain_mod_probe")


def test_daemon_imports_no_pandas_and_package_exports_resolve():
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        f"import {PKG}.daemon\n"
        "print(sorted(m for m in ('pandas', 'pyarrow', 'numpy') if m in sys.modules))\n"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd="/tmp", capture_output=True, text=True, timeout=120)
    assert proc.stdout.strip() == "[]", proc.stdout + proc.stderr

    import bloom_filters_count_min_sketch_spark_streaming_spark as pkg
    from bloom_filters_count_min_sketch_spark_streaming_spark.operators import bpe, quality
    from bloom_filters_count_min_sketch_spark_streaming_spark.session import get_spark

    assert all(getattr(pkg, name) is not None for name in pkg.__all__)
    assert (pkg.get_spark, pkg.quality, pkg.bpe_train_merges) == (get_spark, quality, bpe.train_merges)
    with pytest.raises(AttributeError):
        pkg.no_such_export  # noqa: B018
