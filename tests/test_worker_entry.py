"""distribute.drop_zip_finders: the engine's Python-worker entry drops
every zipimporter from sys.path_importer_cache, so the worker's per-task
importlib.invalidate_caches() re-reads no archive, while imports from
those archives keep working."""

import importlib
import importlib.machinery
import os
import sys
import zipfile
import zipimport

import pytest

from xmlschema_spark.distribute import drop_zip_finders, worker_kernel
from xmlschema_spark.operators.payload import (default_expected_pixels,
                                               payload_violations)
from xmlschema_spark.sources.fixtures import images_spec, make_images

MOD = "zip_finder_probe_mod"


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding MOD and a directory holding a plain module, both at
    the front of sys.path, imported once so each has its finder; the
    test runs against a copy of sys.path_importer_cache."""
    zpath = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{MOD}.py", "VALUE = 42\n")
    ddir = tmp_path / "plain"
    ddir.mkdir()
    (ddir / "plain_finder_probe_mod.py").write_text("VALUE = 7\n")
    monkeypatch.setattr(sys, "path", [zpath, str(ddir)] + sys.path)
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    for m in (MOD, "plain_finder_probe_mod"):
        monkeypatch.delitem(sys.modules, m, raising=False)
        importlib.import_module(m)
        monkeypatch.delitem(sys.modules, m)
    return zpath, str(ddir)


def test_drops_zipimporters_and_keeps_other_entries(zip_on_path):
    zpath, ddir = zip_on_path
    cache = sys.path_importer_cache
    assert isinstance(cache[zpath], zipimport.zipimporter)
    finder = cache[ddir]
    assert isinstance(finder, importlib.machinery.FileFinder)
    cache["/no/such/finder/probe"] = None
    files = zipimport._zip_directory_cache[zpath]

    drop_zip_finders()

    assert not any(isinstance(f, zipimport.zipimporter)
                   for f in cache.values())
    assert cache[ddir] is finder
    assert "/no/such/finder/probe" in cache
    assert cache["/no/such/finder/probe"] is None
    # the module still imports; its rebuilt finder reuses the directory
    # the first one read
    assert importlib.import_module(MOD).VALUE == 42
    assert isinstance(cache[zpath], zipimport.zipimporter)
    assert zipimport._zip_directory_cache[zpath] is files


def test_invalidate_caches_reads_no_archive_after_drop(zip_on_path,
                                                      monkeypatch):
    zpath, _ = zip_on_path
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or read(p))
    drop_zip_finders()
    importlib.invalidate_caches()
    assert importlib.import_module(MOD).VALUE == 42
    assert reads == []


def test_worker_kernel_drops_the_finders_its_imports_rebuilt(zip_on_path):
    """A kernel's first-time import rebuilds a zip finder after the entry
    drop; worker_kernel drops it again once the generator is exhausted,
    so the worker's next task re-reads no archive."""
    zpath, _ = zip_on_path

    @worker_kernel
    def kernel(batches):
        for b in batches:
            yield importlib.import_module(MOD).VALUE + b

    gen = kernel(iter([1, 2]))
    try:
        assert next(gen) == 43
        assert isinstance(sys.path_importer_cache[zpath],
                          zipimport.zipimporter)
        assert list(gen) == [44]
    finally:
        sys.modules.pop(MOD, None)
    assert not any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())


def test_worker_kernel_keeps_a_plain_function_and_its_arity(zip_on_path):
    """An applyInPandas body keeps its signature (PySpark passes the key
    only to a two-argument function) and drops the finders on return."""
    import inspect

    @worker_kernel
    def per_group(key, pdf):
        return importlib.import_module(MOD).VALUE + key + pdf

    assert inspect.getfullargspec(per_group).args == ["key", "pdf"]
    try:
        assert per_group(1, 2) == 45
    finally:
        sys.modules.pop(MOD, None)
    assert not any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())


def test_python_workers_hold_no_zipimporter_after_payload(spark, tmp_path):
    """Every worker that ran the payload kernel starts its next task
    with no zipimporter left: that task's invalidate_caches() (run by
    pyspark before the probe) found none to re-read or rebuild."""
    df = make_images(spark, 400, dirty=True).cache()
    df.count()
    seen = str(tmp_path)

    def marking(image_id, w, h, _d=seen, _gen=default_expected_pixels):
        import os
        open(os.path.join(_d, str(os.getpid())), "w").close()
        return _gen(image_id, w, h)

    spec = images_spec().payload
    pv = payload_violations(df, spec, part_key="part_key",
                            expected_pixels=marking)
    # the second action is the steady state: a worker's first kernel
    # task may import a module for the first time after the drop, and
    # a first import walks sys.path and rebuilds finders
    assert pv.count() > 0
    assert pv.count() > 0

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa
        n = sum(isinstance(f, zipimport.zipimporter)
                for f in list(sys.path_importer_cache.values()))
        for _ in batches:
            pass
        yield pa.record_batch([pa.array([os.getpid()], pa.int64()),
                               pa.array([n], pa.int64())],
                              names=["pid", "n"])

    rows = df.select("image_id").mapInArrow(probe, "pid bigint, n bigint") \
        .collect()
    payload_pids = {int(p) for p in os.listdir(seen)}
    both = {r.pid: r.n for r in rows if r.pid in payload_pids}
    assert both, (payload_pids, rows)
    assert set(both.values()) == {0}, both
    df.unpersist()
