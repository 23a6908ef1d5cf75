"""PySpark worker daemon that keeps the zip import caches across tasks.

Spark starts ``python -m <spark.python.daemon.module> <worker module>``
once per executor; the stock ``pyspark.daemon`` forks one worker per task
slot and reuses it for task after task. At the start of every task the
worker's ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Up to Python 3.12 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory: there is one importer per package
directory imported from ``pyspark.zip`` (1,328 entries), 14-18 of them in a
worker, and the re-reads cost ~100 ms of CPU per task (Python 3.11, 4-core
host), more than most tasks of this engine spend on their own work.

``get_spark`` sets ``spark.python.daemon.module`` to this module, which
makes one change before it hands over to the stock daemon: the
``importlib`` that ``setup_spark_files`` calls becomes a view whose
``invalidate_caches`` sets the zip importers aside, runs the stock
invalidation for every other finder (so a ``.py`` file shipped with
``addPyFile`` mid-session is still found), and puts the zip importers
back. An archive already on ``sys.path`` does not change while a worker
lives. A session built elsewhere (the driver harness's own) keeps the
stock daemon and gets the same results, just without the saving.

If the installed PySpark no longer has that shape (no module-level
``importlib`` in ``pyspark.worker_util``, or a ``setup_spark_files`` that
lives elsewhere or no longer calls it), the daemon logs one warning and
runs the stock path; it never fails a task.
"""

from __future__ import annotations

import importlib
import logging
import sys
import types
import zipimport

_log = logging.getLogger(__name__)


def invalidate_caches_keeping_zips() -> None:
    """``importlib.invalidate_caches()`` for every finder except the zip
    importers, whose cached archive directories stay as they are."""
    cache = sys.path_importer_cache
    zips = {path: f for path, f in list(cache.items()) if isinstance(f, zipimport.zipimporter)}
    for path in zips:
        del cache[path]
    try:
        importlib.invalidate_caches()
    finally:
        cache.update(zips)


class _ImportlibView(types.ModuleType):
    """``importlib`` as ``pyspark.worker_util`` sees it: every attribute is
    the real module's except ``invalidate_caches``."""

    def __getattr__(self, name):
        return getattr(importlib, name)


IMPORTLIB_VIEW = _ImportlibView("importlib")
IMPORTLIB_VIEW.invalidate_caches = invalidate_caches_keeping_zips


def install() -> bool:
    """Point ``pyspark.worker_util``'s ``importlib`` at the view. Returns
    whether the shim is active; when this PySpark does not have the shape
    the shim relies on, logs one warning and leaves PySpark as it is."""
    try:
        from pyspark import worker, worker_util

        current = getattr(worker_util, "importlib", None)
        setup = getattr(worker_util, "setup_spark_files", None)
        problem = None
        if current is not importlib and current is not IMPORTLIB_VIEW:
            problem = "pyspark.worker_util has no module-level importlib"
        elif (
            setup is None
            or getattr(worker, "setup_spark_files", None) is not setup
            or getattr(setup, "__globals__", None) is not vars(worker_util)
            or "importlib" not in setup.__code__.co_names
        ):
            problem = "pyspark.worker no longer runs worker_util.setup_spark_files calling importlib"
        if problem:
            _log.warning("zip import caches are re-read every task (stock path): %s", problem)
            return False
        worker_util.importlib = IMPORTLIB_VIEW
        return True
    except Exception:  # noqa: BLE001 - whatever goes wrong, the stock path runs
        _log.warning("zip import caches are re-read every task (stock path)", exc_info=True)
        return False


def main() -> None:
    install()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # ``python -m`` runs this file as __main__; run the importable copy so
    # workers (forked from here) find the view under this module's name.
    importlib.import_module(__spec__.name).main()
