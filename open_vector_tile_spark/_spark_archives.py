"""Read Spark's own zip archives once per Python process, not once per task.

Before every task pyspark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``).  On CPython 3.11 each
cached ``zipimport.zipimporter`` then re-reads its whole zip directory in
pure Python, and a worker holds one importer per imported subpackage of
``pyspark.zip`` (1,328 entries) plus the py4j zip and the spark-core jar
(5,359 entries): 0.10-0.20 s per task on a 4-core VM.  The archives under
``SPARK_HOME/python/lib`` and ``SPARK_HOME/jars`` do not change while a
worker lives, so their importers skip the refresh.  Archives anywhere else
(``--py-files``, ``addPyFile`` zips) keep Spark's per-task refresh."""

from __future__ import annotations

import os
import sys
import zipimport


class _FrozenZipImporter(zipimport.zipimporter):
    """A zipimporter whose archive is read once: ``invalidate_caches`` keeps
    the directory it already holds."""

    def invalidate_caches(self):
        pass


class _FrozenHook:
    """``sys.path_hooks`` entry: a :class:`_FrozenZipImporter` for a path
    into an archive under ``roots``; every other path goes on to the next
    hook."""

    def __init__(self, roots: tuple[str, ...]):
        self.roots = roots

    def __call__(self, path):
        if not os.path.realpath(path).startswith(self.roots):
            raise ImportError("not a Spark archive", path=path)
        return _FrozenZipImporter(path)


def freeze_spark_archives() -> None:
    """Swap every cached zipimporter over an archive under
    ``SPARK_HOME/python/lib`` or ``SPARK_HOME/jars`` for a
    :class:`_FrozenZipImporter` on the same path key, and hook the same
    swap into importers made for paths seen later (a subpackage imported in
    a later task).  A replacement reuses ``zipimport._zip_directory_cache``,
    so no archive is read again.  Does nothing without ``SPARK_HOME`` or
    when already done."""
    home = os.environ.get("SPARK_HOME")
    if not home or any(isinstance(h, _FrozenHook) for h in sys.path_hooks):
        return
    # realpath: SPARK_HOME is often a symlink to the versioned install, and
    # Spark puts the jar on the worker's path by its resolved name
    roots = tuple(os.path.join(os.path.realpath(home), d) + os.sep for d in ("python/lib", "jars"))
    for key, imp in list(sys.path_importer_cache.items()):
        if type(imp) is zipimport.zipimporter and os.path.realpath(imp.archive).startswith(roots):
            sys.path_importer_cache[key] = _FrozenZipImporter(key)
    sys.path_hooks.insert(0, _FrozenHook(roots))
