"""Cut the fixed import cost of every task a PySpark Python worker runs.

Before each task the worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, after it adds the task's ``addPyFile``
paths), and CPython 3.11 answers by re-reading the central directory of
every archive behind every ``zipimport.zipimporter`` in
``sys.path_importer_cache``. A warm worker holds one finder per archive
plus one per package it imported from that archive (``pyspark.zip/pyspark``,
``pyspark.zip/pyspark/sql``, ...): 16 re-reads per task on Spark 4.1.2.
Two of them read ``spark-core_2.13-4.1.2.jar`` (5359 entries, no Python
module, 37-54 ms per read here), which Spark's ``PythonUtils.sparkPythonPath``
puts on ``PYTHONPATH``.

``trim_zip_finders`` runs once per worker process, from the package's
``__init__``, and does two things:

1. It drops every finder with a non-empty ``prefix``, now and again before
   every later ``importlib.invalidate_caches()``: a worker that imports a
   package it had not imported before (a new UDF type, a later stage)
   grows a prefixed finder again. CPython rebuilds one on demand from
   ``zipimport._zip_directory_cache``, which the archive's root finder
   keeps refreshing, so a file added to ``pyspark.zip`` or to an
   ``addPyFile`` archive is still found by the next task. The repeat drop
   uses the documented protocol: ``importlib.invalidate_caches()`` calls
   ``invalidate_caches()`` on each ``sys.meta_path`` finder in order, so a
   finder that finds nothing, placed first, runs just before
   ``PathFinder`` re-reads the archives.
2. It removes from ``sys.path`` and the finder cache every archive with no
   ``.py`` or ``.pyc`` member: nothing can be imported from it, so nothing
   is lost by not re-reading it.

It acts only where ``pyspark.worker`` is loaded, which holds in the
daemon-forked workers and not in the driver. Reading the archives' names
costs ~55 ms once per worker process (43 ms of it the jar), which a
reused worker (Spark's default) earns back on its second task. Measured
on a 4-core VM, local[2], ten runs each: a trivial pandas-UDF job fell
from 0.30-0.46 s to 0.16-0.31 s (the same job without Python: 0.06-0.24
s), and a worker holds 2 zip finders instead of 16.

Rejected: replacing ``importlib.invalidate_caches`` in the worker breaks
Spark's promise that a file shipped with ``addPyFile`` mid-session is
importable by the next task; a custom ``spark.python.worker.module`` is a
setting every deployment must carry and a fork of Spark's worker loop.
"""

import sys
import zipimport


class _PrefixedZipFinderDropper:
    """A ``sys.meta_path`` entry that finds nothing; its
    ``invalidate_caches`` drops the prefixed zip finders."""

    @staticmethod
    def find_spec(fullname, path=None, target=None):
        return None

    @staticmethod
    def invalidate_caches() -> None:
        cache = sys.path_importer_cache
        for path, finder in list(cache.items()):
            if isinstance(finder, zipimport.zipimporter) and finder.prefix:
                del cache[path]


def trim_zip_finders() -> None:
    """Drop a PySpark worker's prefixed zip finders, now and before every
    later cache invalidation, and its module-free archives (see the module
    docstring); a no-op outside a worker."""
    if "pyspark.worker" not in sys.modules:
        return
    import zipfile

    _PrefixedZipFinderDropper.invalidate_caches()
    if _PrefixedZipFinderDropper not in sys.meta_path:
        sys.meta_path.insert(0, _PrefixedZipFinderDropper)
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if not isinstance(finder, zipimport.zipimporter):
            continue
        try:
            with zipfile.ZipFile(finder.archive) as zf:
                names = zf.namelist()
        except (OSError, zipfile.BadZipFile):
            continue  # unreadable now: leave it to the root finder
        if any(n.endswith((".py", ".pyc")) for n in names):
            continue
        del cache[path]
        sys.path[:] = [p for p in sys.path if p != path]
