"""Python-worker daemon that starts workers warm.

This module is the ``spark.python.daemon.module`` (the documented
extension point for customizing worker startup): a thin wrapper around
the stock ``pyspark.daemon`` that does three things before ``manager()``
forks the first worker.

**1. mtime-guarded zip import-cache invalidation.** Every Python-worker
task runs ``setup_spark_files`` → ``importlib.invalidate_caches()``
(pyspark ``worker_util.py``). On CPython 3.11+,
``zipimport.zipimporter.invalidate_caches()`` *eagerly re-reads the whole
zip central directory* on every call — and the worker's ``sys.path`` holds
``pyspark.zip`` (~1,400 entries) plus the py4j zip, so every
mapInPandas/pandas-UDF task pays the re-parse even though the archives
never change. Measured on a 4-core host: **~180 ms per task** (p90
400 ms) of pure import-cache churn, dominating short tasks. The guard
re-reads the archive directory only when the zip file's ``(mtime, size)``
actually changed — exactly the condition under which the cached directory
could be stale. Everything else about ``invalidate_caches`` (FileFinder
directory caches, namespace-path epochs) is untouched, so
``sc.addPyFile``/``--py-files`` semantics are preserved: new files land in
directories (FileFinder, cheap mtime-checked invalidation) or as *new* zip
path entries (fresh zipimporter, read once).

**2. A compiled-code cache for Spark's own archives.** Spark puts
``$SPARK_HOME/python/lib/pyspark.zip`` first on the worker path. The zip
holds only ``.py`` files, so every daemon start compiles pyspark from
source, and CPython 3.11 compiles each module twice
(``zipimporter.get_filename`` and ``get_code`` both call
``zipimport._get_module_code``): ``import pyspark.daemon`` took 1.31 s
from the zip against 0.23 s from site-packages. The cache keeps what
zipimport compiles on disk, the way ``__pycache__`` keeps it for source
files:

- *Key*: (archive path, its ``st_mtime_ns`` and ``st_size``, the
  importer's prefix, the module name, ``importlib.util.MAGIC_NUMBER``) —
  the staleness rule of the guard above plus the bytecode version. A
  replaced archive or another Python misses and compiles.
- *Scope*: only ``pyspark.zip`` and the ``py4j-*.zip`` archive, so the
  cache holds at most one set of entries per installed Spark and Python.
- *Directory*: ``~/.cache/nhao-zipcode``, created mode ``0700``. Before
  each use it is checked with ``lstat`` to be a real directory (not a
  symlink) owned by ``os.getuid()`` with mode exactly ``0700``; otherwise
  the cache is not read or written. Marshal data from a directory another
  user can write would be code injection into every worker.
- *Entries* are written to a temp file and ``os.replace``-d in, so a
  reader sees a whole entry or none. An unreadable or corrupt entry, an
  unusable directory or a missing hook falls back to zipimport's own
  compile (and a corrupt entry is rewritten).

**3. Pre-import of the worker stack.** Each worker of the two production
jobs imported ~370 modules between its fork and its first UDF call
(numpy, pyarrow, pandas and the stage modules), and a task's workers do
it all at once on the same cores. ``_WORKER_STACK`` lists what
``extract_map_fn``, ``with_lineage_stats`` and ``segment_image_pages``
reach; it was derived by comparing ``sys.modules`` at the fork with
``sys.modules`` after a worker's first task, and
``tests/test_zipcache_daemon.py`` checks that those functions import
nothing more. Forked workers inherit the modules. The daemon itself grows
by the size of that stack (47 → 115 MB RSS), once per executor. A module
that cannot be imported (a cluster daemon without the package on its
path) is skipped. The daemon then calls ``gc.freeze()``, so that the
``gc.collect()`` each worker runs after a task does not write to, and so
copy, every inherited page.

Scope: wired up by ``plans/session.py`` for ``local[*]`` masters only —
the daemon must be importable from the worker's *environment* PYTHONPATH,
which local mode inherits from the driver. On a cluster, ship the package
on ``spark.executorEnv.PYTHONPATH`` and set
``spark.python.daemon.module=norsk_historisk_avis_ocr_spark.zipcache_daemon``
explicitly.
"""

from __future__ import annotations

import gc
import hashlib
import importlib
import importlib.util
import marshal
import os
import stat
import types
import zipimport

_orig_invalidate = zipimport.zipimporter.invalidate_caches
_orig_module_code = getattr(zipimport, "_get_module_code", None)

_CACHE_DIR = os.path.join(os.path.expanduser("~"), ".cache", "nhao-zipcode")

_WORKER_STACK = (
    "numpy", "pyarrow", "pyarrow.pandas_compat", "pyarrow.vendored.version",
    "pandas",
    "norsk_historisk_avis_ocr_spark.functions.udfs",
    "norsk_historisk_avis_ocr_spark.operators.resume",
    "norsk_historisk_avis_ocr_spark.operators.raster",
    # decode_payload_gray imports its codec lazily
    "norsk_historisk_avis_ocr_spark.stages.jpeg",
    "norsk_historisk_avis_ocr_spark.stages.pdf",
    "norsk_historisk_avis_ocr_spark.stages.png",
    "norsk_historisk_avis_ocr_spark.stages.tiff",
)


def _guarded_invalidate(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None and getattr(self, "_nhao_zip_stat", None) == key:
        return  # archive unchanged: the cached directory cannot be stale
    _orig_invalidate(self)
    self._nhao_zip_stat = key


def _private_dir(path: str) -> bool:
    try:
        st = os.lstat(path)
    except OSError:
        return False
    return (stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid()
            and stat.S_IMODE(st.st_mode) == 0o700)


def _entry_path(importer, fullname: str) -> str | None:
    """Where ``fullname``'s compiled code from ``importer`` is cached, or
    None when it must not be cached."""
    name = os.path.basename(importer.archive)
    if not (name == "pyspark.zip"
            or (name.startswith("py4j-") and name.endswith(".zip"))):
        return None
    if not _private_dir(_CACHE_DIR):
        return None
    try:
        st = os.stat(importer.archive)
    except OSError:
        return None
    key = repr((importer.archive, st.st_mtime_ns, st.st_size,
                importer.prefix, fullname, importlib.util.MAGIC_NUMBER))
    digest = hashlib.sha256(key.encode()).hexdigest()[:32]
    return os.path.join(_CACHE_DIR, f"{fullname}.{digest}")


def _cached_module_code(self, fullname):
    """``zipimport._get_module_code`` through the compiled-code cache:
    returns ``(code, ispackage, modpath)`` as the original does."""
    path = _entry_path(self, fullname)
    if path is None:
        return _orig_module_code(self, fullname)
    # one import asks the importer twice in a row (get_filename, get_code)
    last = getattr(self, "_nhao_last", None)
    if last is not None and last[0] == path:
        return last[1]
    try:
        with open(path, "rb") as f:
            got = marshal.loads(f.read())
        code, ispackage, modpath = got
        if (isinstance(code, types.CodeType)
                and isinstance(ispackage, bool)
                and isinstance(modpath, str)):
            self._nhao_last = (path, got)
            return got
    except (OSError, EOFError, ValueError, TypeError):
        pass  # missing or corrupt: compile and rewrite
    got = _orig_module_code(self, fullname)
    self._nhao_last = (path, got)
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        with open(tmp, "wb") as f:
            marshal.dump(got, f)
        os.replace(tmp, path)
    except OSError:
        try:
            os.unlink(tmp)
        except OSError:
            pass
    return got


def _install() -> None:
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate
    # Warm the guard in the daemon parent: forked workers inherit the
    # already-validated cache state, so not even the first task of a fresh
    # worker pays a re-read.
    importlib.invalidate_caches()
    try:
        os.makedirs(os.path.dirname(_CACHE_DIR), exist_ok=True)
        os.mkdir(_CACHE_DIR, 0o700)
    except OSError:
        pass  # exists, or cannot be made: _private_dir decides per use
    if _orig_module_code is not None:
        zipimport._get_module_code = _cached_module_code


def _preimport() -> None:
    for name in _WORKER_STACK:
        try:
            importlib.import_module(name)
        except ImportError:
            pass


if __name__ == "__main__":
    _install()
    from pyspark.daemon import manager
    _preimport()
    # Every worker runs gc.collect() after each task. A collection writes
    # to the header of each object it visits, so without the freeze each
    # forked worker copies the inherited pages on its first collections:
    # the first warm scan passes then ran up to 40% slower than with no
    # pre-import. Frozen objects are never visited.
    gc.freeze()
    manager()
