"""The Python worker daemon's zip-cache guard (``pydaemon``): an unchanged
archive is not re-read per task, a replaced or missing one takes the stock
path, and ``get_spark`` sessions run their workers under it."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from f1_data_pipeline_spark import pydaemon


def _zip(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zmod_probe.py", body)


@pytest.fixture
def reads(monkeypatch):
    """Counts zip directory reads (the stock invalidate's whole cost)."""
    n = [0]
    stock = zipimport._read_directory

    def counted(archive):
        n[0] += 1
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return n


def test_import_patches_nothing():
    assert (
        zipimport.zipimporter.invalidate_caches
        is pydaemon._stock_invalidate_caches
    )


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    arch = str(tmp_path / "a.zip")
    _zip(arch, "X = 1\n")
    imp = zipimport.zipimporter(arch)
    pydaemon._invalidate_if_archive_changed(imp)  # first call keys it
    base = reads[0]
    for _ in range(5):
        pydaemon._invalidate_if_archive_changed(imp)
    assert reads[0] == base
    assert "zmod_probe.py" in imp._files


def test_replaced_archive_is_reread_and_imports_new_content(
    tmp_path, reads, monkeypatch
):
    arch = str(tmp_path / "a.zip")
    _zip(arch, "X = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        pydaemon._invalidate_if_archive_changed,
    )
    monkeypatch.syspath_prepend(arch)
    monkeypatch.delitem(sys.modules, "zmod_probe", raising=False)
    try:
        importlib.invalidate_caches()
        assert importlib.import_module("zmod_probe").X == 1
        new = str(tmp_path / "b.zip")
        _zip(new, "X = 2\n")
        os.replace(new, arch)
        base = reads[0]
        importlib.invalidate_caches()
        assert reads[0] > base
        del sys.modules["zmod_probe"]
        assert importlib.import_module("zmod_probe").X == 2
    finally:
        sys.modules.pop("zmod_probe", None)
        sys.path_importer_cache.pop(arch, None)


def test_missing_archive_takes_the_stock_path(tmp_path, reads):
    arch = str(tmp_path / "a.zip")
    _zip(arch, "X = 1\n")
    imp = zipimport.zipimporter(arch)
    pydaemon._invalidate_if_archive_changed(imp)
    os.remove(arch)
    for i in range(2):
        base = reads[0]
        pydaemon._invalidate_if_archive_changed(imp)
        assert reads[0] == base + 1, i
        assert imp._files == {}


def test_daemon_only_where_workers_can_import(tmp_path, monkeypatch):
    """``get_spark`` selects the daemon only when workers, which inherit
    the driver's cwd and $PYTHONPATH, can import the package: a daemon
    that cannot start fails every Python task of the session."""
    from f1_data_pipeline_spark.session import workers_can_import

    root = os.path.dirname(os.path.dirname(os.path.abspath(pydaemon.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert not workers_can_import()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert workers_can_import()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert workers_can_import()


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 re-reads lazily; no guard"
)
def test_get_spark_workers_run_under_the_guard(spark):
    """A pandas UDF in a ``get_spark`` session sees the engine's
    invalidate, and a reused worker re-reads no unchanged archive after
    its first task."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def invalidate_name(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(
            lambda _: zipimport.zipimporter.invalidate_caches.__qualname__
        )

    names = {
        r[0] for r in spark.range(4).select(invalidate_name("id")).collect()
    }
    assert names == {pydaemon._invalidate_if_archive_changed.__qualname__}

    def rereads(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        if not hasattr(sys, "_zip_reads"):
            # installed in this worker's first task, after its invalidate
            sys._zip_reads = [0]
            stock = zipimport._read_directory

            def counted(archive):
                sys._zip_reads[0] += 1
                return stock(archive)

            zipimport._read_directory = counted
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "n": [sys._zip_reads[0]]}
        )

    df = spark.range(0, 64, 1, 8)
    rows = []
    for _ in range(3):
        rows += df.mapInArrow(rereads, "pid long, n long").collect()
    assert len({r.pid for r in rows}) < len(rows)  # workers were reused
    assert {r.n for r in rows} == {0}
