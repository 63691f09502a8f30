"""Spark's own zip archives are read once per Python process
(``open_vector_tile_spark._spark_archives``): the per-task
``importlib.invalidate_caches()`` of pyspark's worker leaves them alone,
while every other zip keeps its refresh."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from open_vector_tile_spark._spark_archives import _FrozenHook, _FrozenZipImporter, freeze_spark_archives

_MODS = ("frz_a", "frz_b", "frz_pkg", "frz_pkg.m", "usr_a")


def _zip(path, files):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    return str(path)


@pytest.fixture
def fake_spark(tmp_path, monkeypatch):
    """A SPARK_HOME with ``python/lib/x.zip`` and a user zip outside it, both
    on ``sys.path`` and each with one module imported, in an import state
    of their own; -> (spark zip, user zip, archive -> directory reads)."""
    home = tmp_path / "spark"
    spark_zip = _zip(
        home / "python" / "lib" / "x.zip",
        {"frz_a.py": "A = 1\n", "frz_b.py": "B = 2\n", "frz_pkg/__init__.py": "", "frz_pkg/m.py": "M = 3\n"},
    )
    user_zip = _zip(tmp_path / "user.zip", {"usr_a.py": "U = 4\n"})
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setattr(sys, "path_hooks", [h for h in sys.path_hooks if not isinstance(h, _FrozenHook)])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(user_zip)
    monkeypatch.syspath_prepend(spark_zip)
    import frz_a  # noqa: F401
    import usr_a  # noqa: F401

    reads: dict[str, int] = {}
    real = zipimport._read_directory

    def counting(archive):
        reads[archive] = reads.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield spark_zip, user_zip, reads
    for m in _MODS:
        sys.modules.pop(m, None)
    for z in (spark_zip, user_zip):
        zipimport._zip_directory_cache.pop(z, None)


def test_freeze_skips_spark_archive_refresh(fake_spark):
    spark_zip, user_zip, reads = fake_spark
    assert type(sys.path_importer_cache[spark_zip]) is zipimport.zipimporter

    freeze_spark_archives()
    assert isinstance(sys.path_importer_cache[spark_zip], _FrozenZipImporter)
    assert type(sys.path_importer_cache[user_zip]) is zipimport.zipimporter
    assert reads == {}, "constructing the replacements read an archive"

    importlib.invalidate_caches()
    assert reads.get(spark_zip, 0) == 0
    assert reads.get(user_zip, 0) == 1

    import frz_b

    assert frz_b.B == 2
    assert isinstance(frz_b.__spec__.loader, _FrozenZipImporter)
    # a subpackage seen after the freeze gets a frozen importer from the hook
    import frz_pkg.m

    assert frz_pkg.m.M == 3
    assert isinstance(sys.path_importer_cache[f"{spark_zip}/frz_pkg"], _FrozenZipImporter)
    importlib.invalidate_caches()
    assert reads.get(spark_zip, 0) == 0
    assert reads.get(user_zip, 0) == 2


def test_freeze_twice_does_nothing_more(fake_spark):
    spark_zip, _user_zip, reads = fake_spark
    freeze_spark_archives()
    hooks, cache = list(sys.path_hooks), dict(sys.path_importer_cache)
    freeze_spark_archives()
    assert sys.path_hooks == hooks
    assert sys.path_importer_cache == cache
    assert sum(isinstance(h, _FrozenHook) for h in sys.path_hooks) == 1
    assert reads.get(spark_zip, 0) == 0


def test_workers_hold_no_plain_importer_over_spark_archives(spark):
    """In a task of a second job, the worker's import cache holds no plain
    zipimporter over an archive under SPARK_HOME, and a pyspark submodule
    the engine never imports still loads from the frozen archive."""
    roots = tuple(
        os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), d) + os.sep for d in ("python/lib", "jars")
    )

    def probe(load):
        def run(batches):
            import importlib
            import os
            import sys
            import zipimport

            import pyarrow as pa

            import open_vector_tile_spark  # noqa: F401  (each engine UDF imports it)

            fresh = "pyspark.mllib.common" not in sys.modules
            loader = type(importlib.import_module("pyspark.mllib.common").__spec__.loader).__name__ if load else ""
            kinds = [
                type(v).__name__
                for v in sys.path_importer_cache.values()
                if isinstance(v, zipimport.zipimporter) and os.path.realpath(v.archive).startswith(roots)
            ]
            for _ in batches:
                yield pa.RecordBatch.from_pydict({"fresh": [fresh], "kinds": [sorted(set(kinds))], "loader": [loader]})

        return run

    df = spark.range(1, numPartitions=1)
    schema = "fresh boolean, kinds array<string>, loader string"
    df.mapInArrow(probe(False), schema).collect()
    (row,) = df.mapInArrow(probe(True), schema).collect()
    assert row.kinds == ["_FrozenZipImporter"]
    assert row.fresh
    assert row.loader == "_FrozenZipImporter"
