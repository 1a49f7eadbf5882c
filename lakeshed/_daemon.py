"""Python-worker daemon: ``pyspark.daemon`` without the per-task zip re-read.

Named by ``spark.python.daemon.module`` in :data:`lakeshed.session._DEFAULT_CONF`,
so Spark starts it as ``python -m lakeshed._daemon`` in place of
``pyspark.daemon``. It runs the stock :func:`pyspark.daemon.manager` with one
change: :func:`importlib.invalidate_caches` keeps the ``zipimporter`` entries
of ``sys.path_importer_cache``.

Why: ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task, so that modules
shipped mid-session with ``SparkContext.addPyFile`` become importable. On
CPython 3.11 that also makes every cached ``zipimporter`` re-read its
archive's central directory. A reused worker holds over a dozen of them
(``pyspark.zip``, the py4j zip, the Spark core jar), and the re-reads cost
hundreds of ms of CPU per task, more than most tasks' own work.

The wrapper sets the zipimporters aside, calls the real function, and puts
them back. Everything else is unchanged: every ``FileFinder`` is still
invalidated (a ``.py`` added by ``addPyFile`` lands in a directory already
on ``sys.path``), entries under relative or ``None`` keys are still dropped,
and a ``.zip`` added by ``addPyFile`` is a new ``sys.path`` entry that gets a
fresh importer. The archives the kept importers cover are Spark's own and do
not change while the worker lives.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_invalidate_caches = importlib.invalidate_caches


def invalidate_caches() -> None:
    """:func:`importlib.invalidate_caches`, keeping cached zipimporters."""
    kept = {
        path: finder
        for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter) and os.path.isabs(path)
    }
    for path in kept:
        del sys.path_importer_cache[path]
    try:
        _invalidate_caches()
    finally:
        sys.path_importer_cache.update(kept)


if __name__ == "__main__":
    importlib.invalidate_caches = invalidate_caches

    from pyspark import daemon

    daemon.manager()
