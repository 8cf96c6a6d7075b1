"""The stat-guarded ``zipimporter.invalidate_caches`` (``_zipimport_guard``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; on CPython < 3.13 the stock ``zipimporter`` answers by re-reading
each archive's central directory. The guard must skip that re-read while
an archive is unchanged and behave like the stock method once it changes
or disappears. The last test checks it inside a real Python worker: this
file is the probe for per-task Python-stage overhead.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from dcc_validate_metadata_spark import _zipimport_guard


@pytest.fixture
def read_calls(monkeypatch):
    """Archives passed to ``zipimport._read_directory`` while the test runs."""
    calls: list[str] = []
    stock = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


_MEMBERS = {"zg_pkg/__init__.py": "", "zg_pkg/sub/__init__.py": "", "zg_pkg/a.py": "X = 1\n"}


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip holding package ``zg_pkg`` (with subpackage ``sub``), first on
    ``sys.path``; its modules are dropped from ``sys.modules`` afterwards."""
    archive = tmp_path / "zg.zip"
    _write_zip(archive, _MEMBERS)
    monkeypatch.syspath_prepend(str(archive))
    yield archive
    _forget_zg_pkg()


def _forget_zg_pkg() -> None:
    for name in [m for m in sys.modules if m == "zg_pkg" or m.startswith("zg_pkg.")]:
        del sys.modules[name]


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


def _importers(archive) -> list:
    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == str(archive)]


def test_package_import_installs_guard():
    want = (_zipimport_guard._STOCK if sys.version_info >= (3, 13)
            else _zipimport_guard._invalidate_caches)
    assert zipimport.zipimporter.invalidate_caches is want
    _zipimport_guard.install()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is want


def test_unchanged_archive_is_not_reread(zip_pkg, read_calls):
    importlib.import_module("zg_pkg.sub")
    assert len(_importers(zip_pkg)) == 2  # one per imported package level
    read_calls.clear()
    importlib.invalidate_caches()
    first = len(read_calls)
    if sys.version_info < (3, 13):  # one re-read serves both importers
        assert read_calls.count(str(zip_pkg)) == 1
    for _ in range(49):
        importlib.invalidate_caches()
    assert len(read_calls) == first
    assert importlib.import_module("zg_pkg.a").X == 1


def test_rewritten_archive_is_reread(zip_pkg):
    importlib.import_module("zg_pkg.sub")
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zg_pkg.b")
    _write_zip(zip_pkg, {**_MEMBERS, "zg_pkg/b.py": "Y = 2\n", "zg_pkg/sub/c.py": "Z = 3\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_pkg.b").Y == 2
    assert importlib.import_module("zg_pkg.sub.c").Z == 3


def _import_after_delete(archive) -> str:
    importlib.import_module("zg_pkg.sub")
    importlib.invalidate_caches()
    archive.unlink()
    importlib.invalidate_caches()
    try:
        importlib.import_module("zg_pkg.a")
    except Exception as e:  # noqa: BLE001 - the outcome is what is compared
        return type(e).__name__
    return "imported"


def test_deleted_archive_fails_like_stock(zip_pkg, tmp_path, monkeypatch):
    guarded = _import_after_delete(zip_pkg)
    _forget_zg_pkg()
    other = tmp_path / "stock.zip"
    _write_zip(other, _MEMBERS)
    monkeypatch.syspath_prepend(str(other))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _zipimport_guard._STOCK)
    stock = _import_after_delete(other)
    assert guarded == stock == "ModuleNotFoundError"


def test_worker_skips_reread_after_engine_stage(spark):
    """A Python worker that has run an engine ``mapInPandas`` stage re-reads
    no archive when the import caches are invalidated again. A new worker
    environment starts a new daemon, so both one-partition stages run in
    the same, only worker of that pool."""
    from dcc_validate_metadata_spark.images.invariants import decode_check_violations

    def probe(batches):
        import importlib as il
        import sys as s
        import zipimport as zi

        engine = "dcc_validate_metadata_spark" in s.modules
        zips = sum(isinstance(f, zi.zipimporter) for f in s.path_importer_cache.values())
        reads = []
        stock = zi._read_directory
        zi._read_directory = lambda archive: reads.append(archive) or stock(archive)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = stock
        for _ in batches:
            pass
        yield pd.DataFrame({"engine": [engine], "zips": [zips], "reads": [len(reads)],
                            "py313": [s.version_info >= (3, 13)]})

    env = spark.sparkContext.environment
    env["ZIPIMPORT_GUARD_PROBE"] = "1"
    try:
        table = spark.createDataFrame(
            [("i1", bytearray(b"not an image"), 1, 1, "png")],
            "image_id string, bytes binary, w int, h int, fmt string",
        ).coalesce(1)
        decode_check_violations(table, ["image_id"]).collect()
        row = (spark.range(1, numPartitions=1)
               .mapInPandas(probe, "engine boolean, zips long, reads long, py313 boolean")
               .first())
    finally:
        env.pop("ZIPIMPORT_GUARD_PROBE", None)
    if row["py313"]:
        pytest.skip("the stock zipimporter does not re-read from Python 3.13")
    if row["zips"] == 0:
        pytest.skip("the Python worker imports nothing from a zip archive")
    assert row["engine"], "the probe ran in a worker that has not run engine code"
    assert row["reads"] == 0
