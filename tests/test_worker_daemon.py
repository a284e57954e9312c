"""The engine's Python-worker daemon (bigdatamanagement_spark.worker_daemon).

In-process cases install the zip-directory patch in the test process and
restore the stock method afterwards; end-to-end cases run UDFs on the
shared session, whose workers fork from the daemon."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from bigdatamanagement_spark import worker_daemon


@pytest.fixture
def rereads(monkeypatch):
    """Install the patch; yield the list of archives it re-read."""
    stock = zipimport.zipimporter.invalidate_caches
    seen = dict(worker_daemon._SIGNATURES)
    worker_daemon.install()
    calls: list[str] = []

    def counting(self):
        calls.append(self.archive)
        return stock(self)

    monkeypatch.setattr(worker_daemon, "_reread_directory", counting)
    yield calls
    zipimport.zipimporter.invalidate_caches = stock
    worker_daemon._SIGNATURES.clear()
    worker_daemon._SIGNATURES.update(seen)


@pytest.fixture
def on_path(monkeypatch):
    """Prepend a path to sys.path; forget its importers and the test
    modules (``bdm_*``) imported from it after."""
    added: list[str] = []

    def add(path: str) -> str:
        monkeypatch.syspath_prepend(path)
        added.append(path)
        return path

    yield add
    for p in added:
        sys.path_importer_cache.pop(p, None)
    for name in [m for m in sys.modules if m.startswith("bdm_")]:
        del sys.modules[name]


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread(tmp_path, rereads, on_path):
    mod = f"bdm_zip_{uuid.uuid4().hex}"
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {mod: "V = 1\n"})
    on_path(archive)
    assert importlib.import_module(mod).V == 1

    importlib.invalidate_caches()  # first sight of this archive: one read
    assert rereads.count(archive) <= 1
    rereads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in rereads


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_zip_is_reread(tmp_path, rereads, on_path, change):
    tag = uuid.uuid4().hex
    old, new = f"bdm_old_{tag}", f"bdm_new_{tag}"
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {old: "V = 1\n"})
    on_path(archive)
    assert importlib.import_module(old).V == 1
    importlib.invalidate_caches()
    st = os.stat(archive)
    rereads.clear()

    if change == "size":  # a second module; mtime put back
        _write_zip(archive, {old: "V = 1\n", new: "V = 2\n"})
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    else:  # same-length entry name and body: only the mtime moves
        _write_zip(archive, {new: "V = 2\n"})
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        assert os.stat(archive).st_size == st.st_size
    importlib.invalidate_caches()
    assert rereads.count(archive) == 1
    assert importlib.import_module(new).V == 2


def test_new_py_file_in_path_dir_imports(tmp_path, rereads, on_path):
    mod = f"bdm_py_{uuid.uuid4().hex}"
    on_path(str(tmp_path))
    with pytest.raises(ImportError):
        importlib.import_module(mod)  # FileFinder caches the listing
    (tmp_path / f"{mod}.py").write_text("V = 3\n")
    importlib.invalidate_caches()
    assert importlib.import_module(mod).V == 3


def test_workers_run_a_main_udf_under_the_daemon(spark):
    """A UDF from ``__main__`` (pickled by value, as in a driver script)
    runs, and the worker that runs it carries the patched method."""
    import pyspark.sql.functions as F

    assert spark.conf.get("spark.python.daemon.module") == worker_daemon.__name__
    ns = {"__name__": "__main__"}
    exec(
        "def probe(x):\n"
        "    import zipimport\n"
        "    return f'{x}:' + zipimport.zipimporter.invalidate_caches.__name__\n",
        ns,
    )
    probe = F.udf(ns["probe"], "string")
    rows = spark.range(3).select(probe("id").alias("p")).collect()
    assert sorted(r.p for r in rows) == [f"{i}:_invalidate_caches" for i in range(3)]


def test_add_py_file_after_a_udf_ran(spark, tmp_path):
    """Files shipped with addPyFile after workers already ran a task
    import inside the next UDF: a .py module and a module in a .zip."""
    import pandas as pd

    tag = uuid.uuid4().hex
    py_mod, zip_mod = f"bdm_added_py_{tag}", f"bdm_added_zip_{tag}"

    def read_values(batches):
        import importlib

        for pdf in batches:
            vals = [importlib.import_module(m).V for m in (py_mod, zip_mod)]
            yield pd.DataFrame({"v": [sum(vals)] * len(pdf)})

    warm = spark.range(2, numPartitions=2).mapInPandas(
        lambda it: (pdf.assign(id=pdf["id"] * 2) for pdf in it), "id long"
    )
    assert sorted(r.id for r in warm.collect()) == [0, 2]

    (tmp_path / f"{py_mod}.py").write_text("V = 10\n")
    _write_zip(str(tmp_path / f"{zip_mod}.zip"), {zip_mod: "V = 5\n"})
    spark.sparkContext.addPyFile(str(tmp_path / f"{py_mod}.py"))
    spark.sparkContext.addPyFile(str(tmp_path / f"{zip_mod}.zip"))
    rows = spark.range(2, numPartitions=2).mapInPandas(read_values, "v long").collect()
    assert [r.v for r in rows] == [15, 15]
