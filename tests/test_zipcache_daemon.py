"""The Python-worker daemon (``zipcache_daemon``): the mtime-guarded zip
directory re-read, the compiled-code cache for Spark's archives, the
pre-imported worker stack, and where ``build_session`` wires the daemon."""

import glob
import importlib
import marshal
import os
import pickle
import subprocess
import sys
import zipfile
import zipimport

import pytest

from norsk_historisk_avis_ocr_spark import zipcache_daemon as zd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MOD = "nhao_zipcache_probe"
SRC = (
    "VALUE = 1\n"
    "def twice(x):\n"
    "    return [x, x]\n"
    "class Box:\n"
    "    size = len(twice(VALUE))\n")


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def _bump_mtime(path, ns=10**9):
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + ns))


def _value(got):
    code, _ispkg, _modpath = got
    ns = {}
    exec(code, ns)
    return ns["VALUE"]


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """A private cache directory, and a pyspark.zip holding ``MOD``."""
    d = tmp_path / "cache"
    d.mkdir()
    os.chmod(d, 0o700)
    monkeypatch.setattr(zd, "_CACHE_DIR", str(d))
    arc = tmp_path / "lib" / "pyspark.zip"
    arc.parent.mkdir()
    _write_zip(arc, {f"{MOD}.py": SRC})
    return d, arc


def test_cached_import_matches_fresh_compile(cache, monkeypatch):
    d, arc = cache
    modpath = f"{arc}{os.sep}{MOD}.py"
    fresh = compile(SRC, modpath, "exec", dont_inherit=True)
    imp = zipimport.zipimporter(str(arc))
    compiled = []
    orig = zd._orig_module_code
    monkeypatch.setattr(zd, "_orig_module_code",
                        lambda self, name: compiled.append(name)
                        or orig(self, name))

    first = zd._cached_module_code(imp, MOD)
    assert compiled == [MOD] and len(os.listdir(d)) == 1
    del imp._nhao_last
    second = zd._cached_module_code(imp, MOD)
    assert compiled == [MOD]  # read back from disk, not compiled
    for code, ispackage, path in (first, second):
        assert code == fresh and code.co_filename == fresh.co_filename
        assert ispackage is False and path == modpath

    # a real import through the hook: same module, same __file__
    monkeypatch.setattr(zipimport, "_get_module_code", zd._cached_module_code)
    monkeypatch.syspath_prepend(str(arc))
    try:
        mod = importlib.import_module(MOD)
        assert mod.__file__ == modpath
        assert mod.Box.size == 2 and mod.twice.__code__.co_filename == modpath
    finally:
        sys.modules.pop(MOD, None)
        sys.path_importer_cache.pop(str(arc), None)
    assert compiled == [MOD]


def test_new_mtime_or_size_misses(cache):
    _d, arc = cache
    _write_zip(arc, {f"{MOD}.py": "VALUE = 1\n"})
    imp = zipimport.zipimporter(str(arc))
    assert _value(zd._cached_module_code(imp, MOD)) == 1

    # same size, new mtime
    _write_zip(arc, {f"{MOD}.py": "VALUE = 2\n"})
    _bump_mtime(arc)
    zd._orig_invalidate(imp)
    assert _value(zd._cached_module_code(imp, MOD)) == 2

    # new size, same mtime
    mtime = os.stat(arc).st_mtime_ns
    _write_zip(arc, {f"{MOD}.py": "VALUE = 300\n"})
    os.utime(arc, ns=(mtime, mtime))
    zd._orig_invalidate(imp)
    assert _value(zd._cached_module_code(imp, MOD)) == 300


def _plant(imp):
    """An entry at the path the cache would read, holding other code."""
    path = zd._entry_path(imp, MOD)
    planted = compile("VALUE = 666\n", f"{imp.archive}/{MOD}.py", "exec")
    with open(path, "wb") as f:
        marshal.dump((planted, False, f"{imp.archive}/{MOD}.py"), f)
    return path


@pytest.mark.parametrize("unsafe", [
    "group-writable", "world-writable", "other-uid", "symlink"])
def test_unsafe_directory_is_never_read(cache, tmp_path, monkeypatch, unsafe):
    d, arc = cache
    imp = zipimport.zipimporter(str(arc))
    path = _plant(imp)
    planted = open(path, "rb").read()
    assert _value(zd._cached_module_code(imp, MOD)) == 666  # it is read
    del imp._nhao_last

    if unsafe == "group-writable":
        os.chmod(d, 0o720)
    elif unsafe == "world-writable":
        os.chmod(d, 0o702)
    elif unsafe == "other-uid":
        uid = os.getuid()
        monkeypatch.setattr(os, "getuid", lambda: uid + 1)
    else:
        link = tmp_path / "link"
        link.symlink_to(d)
        monkeypatch.setattr(zd, "_CACHE_DIR", str(link))
    assert zd._entry_path(imp, MOD) is None
    assert _value(zd._cached_module_code(imp, MOD)) == 1
    os.chmod(d, 0o700)
    assert open(path, "rb").read() == planted  # nor written


@pytest.mark.parametrize("entry", [
    b"\x00 not marshal data", "truncated", "wrong-shape"])
def test_corrupt_entry_is_recompiled(cache, entry):
    _d, arc = cache
    imp = zipimport.zipimporter(str(arc))
    path = zd._entry_path(imp, MOD)
    good = zd._cached_module_code(imp, MOD)
    if entry == "truncated":
        entry = open(path, "rb").read()[:-7]
    elif entry == "wrong-shape":
        entry = marshal.dumps("abc")
    with open(path, "wb") as f:
        f.write(entry)
    del imp._nhao_last
    got = zd._cached_module_code(imp, MOD)
    assert got == good and _value(got) == 1
    with open(path, "rb") as f:
        assert marshal.loads(f.read()) == good  # rewritten whole


def test_only_spark_archives_are_cached(cache, tmp_path):
    d, _arc = cache
    for name in ("pyspark.zip", "py4j-0.10.9.9-src.zip", "other.zip",
                 "pyspark.zip.bak"):
        arc = tmp_path / name
        _write_zip(arc, {f"{MOD}.py": SRC})
        cached = zd._entry_path(zipimport.zipimporter(str(arc)), MOD)
        assert (cached is not None) == (name in ("pyspark.zip",
                                                 "py4j-0.10.9.9-src.zip"))


def test_guarded_invalidate_rereads_only_on_change(tmp_path, monkeypatch):
    arc = tmp_path / "a.zip"
    _write_zip(arc, {"m1.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(arc))
    reads = []
    orig = zd._orig_invalidate
    monkeypatch.setattr(zd, "_orig_invalidate",
                        lambda self: reads.append(1) or orig(self))

    zd._guarded_invalidate(imp)
    zd._guarded_invalidate(imp)
    assert len(reads) == 1  # first call reads, unchanged archive does not
    _bump_mtime(arc)
    zd._guarded_invalidate(imp)
    zd._guarded_invalidate(imp)
    assert len(reads) == 2
    mtime = os.stat(arc).st_mtime_ns
    _write_zip(arc, {"m1.py": "X = 1\n", "m2.py": "X = 2\n"})
    os.utime(arc, ns=(mtime, mtime))  # only the size changed
    assert imp.find_spec("m2") is None
    zd._guarded_invalidate(imp)
    assert len(reads) == 3 and imp.find_spec("m2") is not None


@pytest.mark.parametrize("master, wired", [
    ("local", True), ("local[4]", True), ("local[4,2]", True),
    ("spark://host:7077", False), ("yarn", False)])
def test_build_session_wires_daemon_for_local_masters(monkeypatch, master,
                                                       wired):
    from pyspark.sql import SparkSession

    from norsk_historisk_avis_ocr_spark.plans import build_session
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    conf = build_session("conf-matrix", master=master)
    assert conf["spark.master"] == master
    if wired:
        assert conf["spark.python.daemon.module"] == \
            "norsk_historisk_avis_ocr_spark.zipcache_daemon"
    else:
        assert "spark.python.daemon.module" not in conf


_RUN_AFTER_PREIMPORT = """
import pickle, sys
from norsk_historisk_avis_ocr_spark import zipcache_daemon
import pyspark.daemon
zipcache_daemon._preimport()
import pyarrow as pa
from pyspark import TaskContext
TaskContext._getOrCreate()._partitionId = 0
before = set(sys.modules)
for job, blobs, ipc in pickle.load(sys.stdin.buffer):
    stages = [pickle.loads(b) for b in blobs]
    rows = pa.ipc.open_stream(ipc).read_all()
    for i in range(rows.num_rows):  # one-row batches: each codec once
        batch = rows.slice(i, 1).to_pandas()
        for fn in stages:  # each stage's output is the next one's input
            out = list(fn(iter([batch])))
            assert len(out) == 1 and len(out[0]) == 1, job
            batch = pa.RecordBatch.from_pandas(out[0]).to_pandas()
print(" ".join(sorted(set(sys.modules) - before)))
"""


def test_worker_functions_import_nothing_after_preimport(
        spark, sf_dir, tmp_path, monkeypatch):
    """Each function the two production jobs run in a Python worker,
    unpickled and run on a one-row batch where only the package and
    Spark's zips are importable (as in a worker), imports no module that
    the daemon did not import before the fork."""
    import pyarrow as pa
    from pyspark import cloudpickle
    from pyspark.find_spark_home import _find_spark_home

    import jobs.extract as extract_job
    import jobs.segment_scans as scan_job
    from norsk_historisk_avis_ocr_spark.sources import pages_df
    from norsk_historisk_avis_ocr_spark.sources.rasters import (
        jpeg_pages_df, pdf_pages_df, raster_pages_df,
    )

    pages, scans = str(tmp_path / "pages"), str(tmp_path / "scans")
    pages_df(spark, sf_dir).limit(2).write.parquet(pages)
    one = [src(spark, sf_dir, limit=1).select("page_id", "png")
           for src in (raster_pages_df, jpeg_pages_df, pdf_pages_df)]
    one[0].unionByName(one[1]).unionByName(one[2]).write.parquet(scans)

    cls = type(spark.range(1))
    original = cls.mapInPandas
    shipped = []

    def capture(self, func, *args, **kwargs):
        shipped.append((func, self))
        return original(self, func, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInPandas", capture)
    extract_job.main(["--input", pages, "--output", str(tmp_path / "out"),
                      "--lineage", str(tmp_path / "lin")])
    n_extract = len(shipped)
    scan_job.main(["--input", scans, "--output", str(tmp_path / "geo"),
                   "--lineage", str(tmp_path / "geo_lin")])
    monkeypatch.undo()
    # extraction + lineage pass-through per job
    assert n_extract == 2 and len(shipped) == 4

    cases = []
    for job, stages in (("extract", shipped[:2]), ("segment_scans",
                                                   shipped[2:])):
        rows = stages[0][1].toArrow()
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, rows.schema) as w:
            w.write_table(rows)
        cases.append((job, [cloudpickle.dumps(f) for f, _df in stages],
                      sink.getvalue().to_pybytes()))

    pkg = "norsk_historisk_avis_ocr_spark"
    (tmp_path / "path").mkdir()
    (tmp_path / "path" / pkg).symlink_to(os.path.join(REPO, pkg))
    zips = sorted(glob.glob(os.path.join(_find_spark_home(), "python", "lib",
                                         "*.zip")))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [str(tmp_path / "path")] + zips))
    out = subprocess.run([sys.executable, "-c", _RUN_AFTER_PREIMPORT],
                         input=pickle.dumps(cases), cwd=tmp_path / "path",
                         env=env, capture_output=True, timeout=300)
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    assert out.stdout.decode().strip() == ""
