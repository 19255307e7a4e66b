"""Process bootstrap (``tantivy_search_spark._worker``): on CPython < 3.13
``importlib.invalidate_caches()`` re-reads a zip archive's directory only
when the archive changed, so Spark Python tasks stop re-parsing
``pyspark.zip`` on every task."""

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest

from tantivy_search_spark import _worker

needs_fix = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy on CPython >= 3.13")


def _write_zip(path, modules, mtime_ns=None):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            # fixed entry time: the archive's bytes depend on content only
            zf.writestr(zipfile.ZipInfo(f"{name}.py", (2020, 1, 1, 0, 0, 0)),
                        src)
    if mtime_ns is not None:
        os.utime(path, ns=(mtime_ns, mtime_ns))


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path, with one module imported from it."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"tss_zip_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.invalidate_caches()
    import tss_zip_mod_a  # noqa: F401  (creates the zipimporter)
    yield archive
    for name in ("tss_zip_mod_a", "tss_zip_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture()
def read_counter(monkeypatch):
    """Counts zipimport._read_directory calls, by archive path."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@needs_fix
def test_unchanged_archive_is_not_reread(zip_on_path, read_counter):
    importlib.invalidate_caches()  # first read records the archive's stat
    read_counter.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert read_counter.count(zip_on_path) == 0
    assert zipimport._zip_directory_cache[zip_on_path]
    importer = sys.path_importer_cache[zip_on_path]
    assert importer._files is zipimport._zip_directory_cache[zip_on_path]
    # the counter does see a read: the original method reads every time
    zipimport.zipimporter.invalidate_caches.__wrapped__(importer)
    assert read_counter.count(zip_on_path) == 1


@needs_fix
def test_importers_of_one_archive_share_one_read(zip_on_path, read_counter):
    importers = [zipimport.zipimporter(zip_on_path) for _ in range(4)]
    os.utime(zip_on_path, ns=(10**18, 10**18))
    read_counter.clear()
    for imp in importers:
        imp.invalidate_caches()
    assert read_counter.count(zip_on_path) == 1
    files = zipimport._zip_directory_cache[zip_on_path]
    assert all(imp._files is files for imp in importers)


@needs_fix
def test_rewritten_archive_is_reread(zip_on_path, read_counter):
    importlib.invalidate_caches()
    # a new module changes the archive's size
    _write_zip(zip_on_path, {"tss_zip_mod_a": "X = 1\n",
                             "tss_zip_mod_b": "Y = 2\n"})
    read_counter.clear()
    importlib.invalidate_caches()
    assert read_counter.count(zip_on_path) == 1
    import tss_zip_mod_b
    assert tss_zip_mod_b.Y == 2


@needs_fix
def test_mtime_only_change_is_reread(zip_on_path, read_counter):
    _write_zip(zip_on_path, {"tss_zip_mod_a": "X = 1\n"}, mtime_ns=10**18)
    importlib.invalidate_caches()
    size = os.path.getsize(zip_on_path)
    _write_zip(zip_on_path, {"tss_zip_mod_a": "X = 3\n"},
               mtime_ns=10**18 + 1)
    assert os.path.getsize(zip_on_path) == size
    read_counter.clear()
    importlib.invalidate_caches()
    assert read_counter.count(zip_on_path) == 1


@needs_fix
def test_stat_error_falls_back_to_the_original(zip_on_path):
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importer = sys.path_importer_cache[zip_on_path]
    importer.invalidate_caches()
    # the original's behaviour on an unreadable archive
    assert importer._files == {}
    assert zip_on_path not in zipimport._zip_directory_cache


@needs_fix
def test_install_twice_is_a_noop():
    method = zipimport.zipimporter.invalidate_caches
    assert _worker.install() is True
    assert _worker.install() is True
    assert zipimport.zipimporter.invalidate_caches is method
    assert not hasattr(method.__wrapped__, "__wrapped__")


def test_lazy_python_is_left_untouched(monkeypatch):
    original = getattr(zipimport.zipimporter.invalidate_caches,
                       "__wrapped__",
                       zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(_worker, "_LAZY_ZIP_INVALIDATE", True)
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is original


@pytest.mark.skipif(shutil.which("python3.13") is None,
                    reason="no CPython 3.13 interpreter on PATH")
def test_cpython_313_method_untouched():
    """Load the module file alone (stdlib only) under a real 3.13."""
    script = (
        "import importlib.util, sys, zipimport\n"
        "before = zipimport.zipimporter.invalidate_caches\n"
        "spec = importlib.util.spec_from_file_location('w', sys.argv[1])\n"
        "w = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(w)\n"
        "assert sys.version_info >= (3, 13)\n"
        "assert w.install() is False\n"
        "assert zipimport.zipimporter.invalidate_caches is before\n"
        "print('ok')\n")
    out = subprocess.run(
        ["python3.13", "-c", script, _worker.__file__],
        capture_output=True, text=True, timeout=60)
    assert out.stdout.strip() == "ok", out.stderr


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="no fix is installed on CPython >= 3.13")
def test_spark_worker_has_the_fix_after_an_engine_query(spark,
                                                         corpus_a_index):
    def _worker_report(batches):
        """The worker's bootstrap state.  Nested, so it is pickled by
        value and imports nothing from the package: it reports what
        earlier tasks left in the worker."""
        import importlib
        import sys
        import zipimport

        import pandas as pd

        method = zipimport.zipimporter.invalidate_caches
        patched = hasattr(method, "__wrapped__")
        zips = sum(isinstance(imp, zipimport.zipimporter)
                   for imp in sys.path_importer_cache.values())
        rereads = -1
        if patched and zips:
            real = zipimport._read_directory
            calls = []

            def counting(archive):
                calls.append(archive)
                return real(archive)

            zipimport._read_directory = counting
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = real
            rereads = len(calls)
        for _ in batches:
            pass
        yield pd.DataFrame({
            "loaded": ["tantivy_search_spark" in sys.modules],
            "patched": [patched],
            "zips": [zips],
            "rereads": [rereads]})

    # a query no other test sends, so no plan-cache hit skips its
    # Python stage
    assert corpus_a_index.bm25_search("horizons ancient empires", top_k=7,
                                      operator_or=True).count() > 0
    # many short tasks, so the workers the query left idle are reused
    rows = (spark.range(0, 32, numPartitions=16)
            .mapInPandas(_worker_report,
                         "loaded boolean, patched boolean, zips int, "
                         "rereads int")
            .collect())
    # a worker that imported the package (to unpickle an engine UDF) is
    # patched; the query above left at least one such worker to reuse
    assert all(r["patched"] == r["loaded"] for r in rows)
    patched = [r for r in rows if r["patched"]]
    assert patched
    # with pyspark.zip on the worker's path the fix removes every re-read
    assert all(r["rereads"] == 0 for r in patched if r["zips"])
