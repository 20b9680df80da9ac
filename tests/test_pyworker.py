"""The lazy zip-archive refresh installed in Spark Python workers
(``ocr_spark._pyworker``). The tests read the private CPython names the hook
relies on (``zipimport._zip_directory_cache``, ``zipimport._read_directory``),
so an interpreter that drops them fails here, not silently in a worker."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from ocr_spark import _pyworker

below_312 = pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.12+ refreshes zips lazily")


@pytest.fixture
def lazy(monkeypatch):
    """The hook installed in this process as in a worker; undone after."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_pyworker, "_in_worker", lambda: True)
    assert _pyworker.install_lazy_zip_refresh()
    assert _pyworker.install_lazy_zip_refresh()  # idempotent


def _write_zip(path: str, module: str, stamp_ns: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", f"NAME = {module!r}\n")
    os.utime(path, ns=(stamp_ns, stamp_ns))


@below_312
def test_lazy_refresh_rereads_only_a_changed_archive(lazy, monkeypatch, tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "lazyzip_a", 1_000_000_000)
    monkeypatch.syspath_prepend(archive)
    for name in ("lazyzip_a", "lazyzip_bb"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("lazyzip_a").NAME == "lazyzip_a"
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        importlib.invalidate_caches()  # stamps every archive on the path

        reads: list[str] = []
        stock_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert reads == []
        assert archive in zipimport._zip_directory_cache

        # a new module: new size and mtime, so the listing is re-read
        _write_zip(archive, "lazyzip_bb", 2_000_000_000)
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("lazyzip_bb").NAME == "lazyzip_bb"

        # an archive that cannot be stat'ed goes through the stock method,
        # which drops its listing
        os.remove(archive)
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
    finally:
        sys.path_importer_cache.pop(archive, None)


def test_hook_is_a_noop_from_python_312(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(_pyworker, "_in_worker", lambda: True)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert not _pyworker.install_lazy_zip_refresh()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_driver_import_keeps_stock_zip_refresh():
    """A driver (no task context) that imports the engine keeps CPython's
    own ``zipimporter.invalidate_caches``."""
    code = (
        "import zipimport\n"
        "stock = zipimport.zipimporter.invalidate_caches\n"
        "import pyspark.taskcontext, ocr_spark, ocr_spark.pipeline\n"
        "assert zipimport.zipimporter.invalidate_caches is stock\n"
        "assert not ocr_spark._pyworker.install_lazy_zip_refresh()\n"
        "print('stock')\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "stock"


@below_312
def test_worker_task_rereads_no_archive(spark):
    """From inside a task: the hook is installed, the worker imports pyspark
    from a zip, and a second ``invalidate_caches()`` re-reads nothing."""
    import pandas as pd

    def report(batches):
        reads: list[str] = []
        stock_read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or stock_read(path)
        try:
            importlib.invalidate_caches()
            after_first = len(reads)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        for _ in batches:
            pass
        yield pd.DataFrame({
            "installed": [_pyworker.install_lazy_zip_refresh()],
            "zip_importers": [sum(
                isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
            )],
            "rereads": [len(reads) - after_first],
        })

    rows = (
        spark.range(4).repartition(4)
        .mapInPandas(report, "installed boolean, zip_importers long, rereads long")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.installed and r.zip_importers > 0 and r.rereads == 0, r
