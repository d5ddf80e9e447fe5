"""The per-task zip-directory re-read backport (``gp_ann_spark._pyworker``).

Driver-side cases patch this process directly (a fake TaskContext makes it
look like a worker) and restore the stock method afterwards; the
executor-side case checks the patch is live in reused Python workers.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.taskcontext import TaskContext

from gp_ann_spark import _pyworker

before_312 = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 already invalidates zip caches lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    """Write a fresh archive next to ``path`` and rename it over ``path``, the
    way a re-downloaded ``sc.addPyFile`` archive replaces the old one."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture()
def env(tmp_path, monkeypatch):
    """A zip archive on sys.path with its importer live, the stock
    ``invalidate_caches`` restored at teardown, and ``env["reads"]()``: how
    many times ``_read_directory`` has read that archive."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyw_mod_a": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _pyworker._stock_invalidate_caches)
    monkeypatch.setattr(_pyworker, "_stamps", {})
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    monkeypatch.syspath_prepend(archive)
    for name in ("pyw_mod_a", "pyw_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("pyw_mod_a")
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield {
        "archive": archive,
        "reads": lambda: reads.count(archive),
        "importer": sys.path_importer_cache[archive],
    }
    for name in ("pyw_mod_a", "pyw_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@before_312
def test_unchanged_archive_is_not_reread(env):
    assert _pyworker.install()
    for _ in range(3):
        importlib.invalidate_caches()
    assert env["reads"]() == 0
    assert env["importer"]._files is zipimport._zip_directory_cache[env["archive"]]


@before_312
def test_rewritten_archive_is_picked_up(env):
    assert _pyworker.install()
    _write_zip(env["archive"], {"pyw_mod_a": "X = 1\n", "pyw_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("pyw_mod_b").Y == 2
    assert env["reads"]() == 1
    importlib.invalidate_caches()  # the new stamp is recorded: no second read
    assert env["reads"]() == 1


def _state_after_delete(env) -> tuple:
    os.remove(env["archive"])
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("pyw_mod_b")
    return (env["importer"]._files, env["archive"] in zipimport._zip_directory_cache)


@before_312
def test_deleted_archive_behaves_as_stock(env):
    stock = _state_after_delete(env)
    _write_zip(env["archive"], {"pyw_mod_a": "X = 1\n"})
    importlib.invalidate_caches()
    assert _pyworker.install()
    patched = _state_after_delete(env)
    assert stock == patched == ({}, False)


@before_312
def test_second_install_has_no_effect(env):
    assert _pyworker.install()
    method = zipimport.zipimporter.invalidate_caches
    stamps = dict(_pyworker._stamps)
    assert not _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is method
    assert _pyworker._stamps == stamps
    importlib.invalidate_caches()
    assert env["reads"]() == 0


def test_noop_on_312_and_outside_workers(env, monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 12, 0, "final", 0))
        assert not _pyworker.install()
    with monkeypatch.context() as m:  # the driver: no TaskContext
        m.setattr(TaskContext, "get", classmethod(lambda cls: None))
        assert not _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is stock


@before_312
def test_reused_worker_skips_archive_reread(spark):
    """Two jobs of an engine UDF: a reused worker's later task must re-read
    no archive directory in its setup (16 per task with the stock method)."""

    def probe(batches):
        # referencing the engine module makes unpickling this UDF import
        # gp_ann_spark on the worker, as every engine UDF does
        _pyworker.install  # noqa: B018
        counter = getattr(zipimport, "_gp_ann_spark_probe", None)
        if counter is None:  # first probe task in this worker: start counting
            counter = zipimport._gp_ann_spark_probe = {"reads": 0, "end": None}
            stock_read = zipimport._read_directory

            def counted(path):
                counter["reads"] += 1
                return stock_read(path)

            zipimport._read_directory = counted
        since_last = -1 if counter["end"] is None else counter["reads"] - counter["end"]
        for _ in batches:
            pass
        counter["end"] = counter["reads"]
        yield pd.DataFrame({"pid": [os.getpid()], "setup_reads": [since_last]})

    seen = []
    for _ in range(2):
        df = spark.range(0, 8, numPartitions=8).mapInPandas(probe, "pid long, setup_reads long")
        seen += [(r["pid"], r["setup_reads"]) for r in df.collect()]
    reused = [reads for _, reads in seen if reads >= 0]
    assert reused, seen  # some worker ran more than one probe task
    assert reused == [0] * len(reused), seen
