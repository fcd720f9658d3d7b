"""The zip import guard (`minicrawler_spark/_zipguard.py`): a worker's
per-task `importlib.invalidate_caches()` leaves an unchanged archive's
directory alone, and a changed or deleted archive is still re-read."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import minicrawler_spark  # noqa: F401  (installs the guard)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ zipimport invalidates lazily; the guard is not installed",
)


def _write_zip(path, modules):
    # fixed entry times, so equal contents give equal bytes
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for name, src in modules.items():
            z.writestr(zipfile.ZipInfo(name + ".py", (2020, 1, 1, 0, 0, 0)), src)


@pytest.fixture
def zip_path(tmp_path):
    path = str(tmp_path / "mods.zip")
    names = []
    yield path, names
    if path in sys.path:
        sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    for name in names:
        sys.modules.pop(name, None)


def _importer(path):
    importer = sys.path_importer_cache[path]
    assert isinstance(importer, zipimport.zipimporter)
    return importer


def test_rewritten_zip_is_reread(zip_path):
    path, names = zip_path
    names += ["zg_a", "zg_b"]
    _write_zip(path, {"zg_a": "X = 1\n"})
    sys.path.insert(0, path)
    assert importlib.import_module("zg_a").X == 1
    # an importer made after the guard was installed re-reads once,
    # recording the archive's (mtime, size); unchanged, it is skipped
    importlib.invalidate_caches()
    files = _importer(path)._files
    importlib.invalidate_caches()
    assert _importer(path)._files is files
    _write_zip(path, {"zg_a": "X = 1\n", "zg_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_b").Y == 2


def test_same_size_rewrite_with_new_mtime_is_reread(zip_path):
    path, names = zip_path
    names += ["zg_c", "zg_d"]
    _write_zip(path, {"zg_c": "X = 3\n"})
    sys.path.insert(0, path)
    importlib.import_module("zg_c")
    importlib.invalidate_caches()
    st = os.stat(path)
    _write_zip(path, {"zg_d": "X = 4\n"})
    assert os.stat(path).st_size == st.st_size
    # same (mtime, size) as the directory already read: skipped
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    importlib.invalidate_caches()
    assert "zg_d.py" not in _importer(path)._files
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert importlib.import_module("zg_d").X == 4


def test_deleted_zip_empties_directory(zip_path):
    path, names = zip_path
    names += ["zg_e"]
    _write_zip(path, {"zg_e": "X = 5\n"})
    sys.path.insert(0, path)
    importlib.import_module("zg_e")
    os.remove(path)
    importlib.invalidate_caches()
    assert _importer(path)._files == {}


def _worker_probe(batches):
    import importlib
    import sys
    import zipimport

    import pandas as pd

    import minicrawler_spark  # noqa: F401

    importers = [i for i in list(sys.path_importer_cache.values())
                 if isinstance(i, zipimport.zipimporter)]
    before = [i._files for i in importers]
    importlib.invalidate_caches()
    same = all(i._files is f for i, f in zip(importers, before))
    module = zipimport.zipimporter.invalidate_caches.__module__
    for batch in batches:
        yield pd.DataFrame({"module": [module] * len(batch),
                            "importers": [len(importers)] * len(batch),
                            "same": [same] * len(batch)})


def test_guard_active_in_workers(spark):
    """Second run in the session: the workers that ran the first one
    have the guard, and a per-task invalidate_caches() keeps every
    cached zip directory."""
    df = spark.range(0, 4, 1, 4)
    schema = "module string, importers int, same boolean"
    df.mapInPandas(_worker_probe, schema).collect()
    rows = df.mapInPandas(_worker_probe, schema).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.module == "minicrawler_spark._zipguard"
        assert r.importers > 0
        assert r.same
