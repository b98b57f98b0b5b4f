"""The Python-worker bootstrap (fever_spark._worker): prefixed zip finders
are dropped, module-free archives leave sys.path, importable archives keep
working (also for files added after the trim), and nothing happens outside
a PySpark worker."""

import importlib
import importlib.machinery
import itertools
import sys
import types
import zipfile
import zipimport

import pytest

from fever_spark._worker import trim_zip_finders

_names = itertools.count()


@pytest.fixture
def sandbox(monkeypatch):
    """Private sys.path, meta path and finder cache; the packages imported
    from the test archives are removed from sys.modules afterwards."""
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(sys, "meta_path", list(sys.meta_path))
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    yield monkeypatch
    for name in [n for n in sys.modules if n.startswith("fvs_zpkg")]:
        del sys.modules[name]


@pytest.fixture
def in_worker(sandbox):
    sandbox.setitem(sys.modules, "pyspark.worker",
                    types.ModuleType("pyspark.worker"))
    return sandbox


def _archive(tmp_path, members: dict) -> str:
    path = str(tmp_path / f"a{next(_names)}.zip")
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)
    sys.path.append(path)
    return path


def _package(tmp_path) -> tuple[str, str]:
    """An archive holding package ``pkg`` with subpackage ``sub`` and
    modules ``a`` and ``b``; ``pkg.sub.a`` is imported, ``pkg.sub.b`` not."""
    pkg = f"fvs_zpkg{next(_names)}"
    path = _archive(tmp_path, {
        f"{pkg}/__init__.py": "", f"{pkg}/sub/__init__.py": "",
        f"{pkg}/sub/a.py": "X = 'a'", f"{pkg}/sub/b.py": "X = 'b'"})
    importlib.import_module(f"{pkg}.sub.a")
    return path, pkg


def _module_free(tmp_path) -> str:
    """A jar-like archive: classes and a manifest, no Python module."""
    path = _archive(tmp_path, {"META-INF/MANIFEST.MF": "Manifest-Version: 1",
                               "org/apache/Foo.class": b"\xca\xfe"})
    importlib.machinery.PathFinder.find_spec("fvs_absent", [path])
    return path


def _zip_finders(path: str) -> dict:
    return {k: f.prefix for k, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter) and f.archive == path}


def test_prefixed_finders_dropped_root_kept(tmp_path, in_worker):
    path, pkg = _package(tmp_path)
    assert set(_zip_finders(path).values()) == {"", f"{pkg}/",
                                                f"{pkg}/sub/"}
    trim_zip_finders()
    assert _zip_finders(path) == {path: ""}


def test_prefixed_finder_regrown_after_trim_dropped_on_invalidate(
        tmp_path, in_worker):
    """A package first imported after the trim grows a prefixed finder;
    the next invalidate_caches() (one per Spark task) drops it again."""
    path, pkg = _package(tmp_path)
    trim_zip_finders()
    importlib.import_module(f"{pkg}.sub.b")
    assert f"{pkg}/sub/" in _zip_finders(path).values()
    importlib.invalidate_caches()
    assert _zip_finders(path) == {path: ""}


def test_module_free_archive_leaves_sys_path(tmp_path, in_worker):
    path = _module_free(tmp_path)
    assert _zip_finders(path) == {path: ""}
    trim_zip_finders()
    assert path not in sys.path
    assert path not in sys.path_importer_cache


def test_archive_with_a_module_stays(tmp_path, in_worker):
    path = _archive(tmp_path, {"data/blob.bin": b"\0", "lone_mod.py": ""})
    importlib.machinery.PathFinder.find_spec("fvs_absent", [path])
    trim_zip_finders()
    assert path in sys.path
    assert _zip_finders(path) == {path: ""}


def test_unimported_submodule_of_trimmed_package_imports(tmp_path,
                                                         in_worker):
    path, pkg = _package(tmp_path)
    trim_zip_finders()
    importlib.invalidate_caches()
    mod = importlib.import_module(f"{pkg}.sub.b")
    assert mod.X == "b" and mod.__file__.startswith(path)


def test_module_added_after_trim_imports(tmp_path, in_worker):
    """Spark's refresh semantics: a module shipped into an archive after
    the trim is found once the next task invalidates the caches."""
    path, pkg = _package(tmp_path)
    trim_zip_finders()
    with zipfile.ZipFile(path, "a") as zf:
        zf.writestr(f"{pkg}/sub/c.py", "X = 'c'")
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.sub.c").X == "c"


def test_noop_outside_a_worker(tmp_path, sandbox):
    sandbox.delitem(sys.modules, "pyspark.worker", raising=False)
    _package(tmp_path)
    _module_free(tmp_path)
    path_before = list(sys.path)
    meta_before = list(sys.meta_path)
    cache_before = dict(sys.path_importer_cache)
    trim_zip_finders()
    assert sys.path == path_before
    assert sys.meta_path == meta_before
    assert sys.path_importer_cache == cache_before


def test_spark_workers_hold_only_importable_root_finders(spark):
    """After build → merge → estimate, every zip finder a Python worker
    holds is an archive root (no prefix) with importable modules."""
    import pandas as pd
    from pyspark.sql import functions as F

    from fever_spark.ops import build_sketches, two_level_merge
    from fever_spark.ops.build import SketchSpec
    from fever_spark.ops.estimate import hll_estimate_col

    df = spark.range(0, 4000, 1, 4).select(
        (F.col("id") % 3).alias("k"), (F.col("id") % 997).alias("v"))
    built = build_sketches(df, ["k"], [SketchSpec("u", "hll", "v")])
    est = (two_level_merge(built, ["k"])
           .select(hll_estimate_col(F.col("state")).alias("e")).collect())
    assert len(est) == 3

    def report(batches):
        import os
        import sys
        import zipfile
        import zipimport

        import fever_spark  # noqa: F401 — a fresh worker trims here

        for _ in batches:
            rows = []
            for key, f in list(sys.path_importer_cache.items()):
                if isinstance(f, zipimport.zipimporter):
                    with zipfile.ZipFile(f.archive) as zf:
                        mods = any(n.endswith((".py", ".pyc"))
                                   for n in zf.namelist())
                    rows.append((os.getpid(), key, f.prefix, mods))
            yield pd.DataFrame(rows, columns=["pid", "path", "prefix",
                                              "has_modules"])

    finders = spark.range(0, 8, 1, 4).mapInPandas(
        report, "pid long, path string, prefix string, has_modules boolean"
    ).collect()
    assert all(r["prefix"] == "" for r in finders), finders
    assert all(r["has_modules"] for r in finders), finders
