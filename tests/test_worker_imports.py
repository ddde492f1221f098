"""The package's ``zipimporter.invalidate_caches`` wrapper: it re-reads a zip
archive's directory only when the archive changed, and every Python worker
that runs package code has it installed."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import osm_pbf_convert_spark as pkg


def _write_module_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("m.py", f"VALUE = {value}\n")


def test_driver_has_the_wrapper_once():
    assert zipimport.zipimporter.invalidate_caches is pkg._invalidate_caches_if_changed
    importlib.reload(pkg)  # a second install wraps the stock method, not itself
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper is pkg._invalidate_caches_if_changed
    assert wrapper.__wrapped__.__module__ == "zipimport"


def test_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_module_zip(archive, 1)
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "m", raising=False)
    m = importlib.import_module("m")
    assert m.VALUE == 1
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)

    reads = []
    stock = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # at most the one read that keys the importer
    first = len(reads)
    assert first <= 1
    importlib.invalidate_caches()
    assert len(reads) == first  # unchanged: nothing re-read

    _write_module_zip(archive, 22)  # a different size, so a different key
    importlib.invalidate_caches()
    assert len(reads) == first + 1
    assert importlib.reload(m).VALUE == 22
    importlib.invalidate_caches()
    assert len(reads) == first + 1

    # rewritten in place at the same size with its mtime set back (as by
    # ``cp -p``): inode, size and mtime are unchanged, only the ctime moves
    before = os.stat(archive)
    _write_module_zip(archive, 33)
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(archive)
    assert ((after.st_ino, after.st_size, after.st_mtime_ns)
            == (before.st_ino, before.st_size, before.st_mtime_ns))
    assert after.st_ctime_ns != before.st_ctime_ns
    importlib.invalidate_caches()
    assert len(reads) == first + 2
    assert importlib.reload(m).VALUE == 33

    archive.unlink()  # the stat fails: the stock method runs and empties
    importlib.invalidate_caches()
    assert len(reads) == first + 3
    assert importer._files == {}
    monkeypatch.delitem(sys.modules, "m")


@pytest.mark.spark
def test_every_worker_runs_the_wrapper(spark):
    """Package stages unpickle package code, which imports the package and
    installs the wrapper in the worker; a reused worker's next task start
    (PySpark's ``importlib.invalidate_caches()``) then goes through it."""
    from osm_pbf_convert_spark import codecs

    schema = "pid long, module string, name string, n_zip long, keyed boolean"

    def report(batches, _code=codecs.zigzag_encode):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        zis = [v for v in sys.path_importer_cache.values()
               if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "module": [fn.__module__], "name": [fn.__name__],
            "n_zip": [len(zis)], "keyed": [all(hasattr(v, "_directory_key") for v in zis)]})

    # repeat the stage until a task lands on a worker of an earlier run
    df = spark.range(0, 2, numPartitions=2)
    seen, reused = set(), []
    for _ in range(12):
        rows = df.mapInArrow(report, schema).collect()
        assert len(rows) == 2
        for r in rows:
            assert (r["module"], r["name"]) == (
                "osm_pbf_convert_spark", "_invalidate_caches_if_changed")
            assert r["n_zip"] > 0
        # a worker that already ran package code started this task through
        # the wrapper, so every zipimporter it holds carries a directory key
        reused += [r for r in rows if r["pid"] in seen]
        seen |= {r["pid"] for r in rows}
        if reused:
            break
    assert reused and all(r["keyed"] for r in reused)
