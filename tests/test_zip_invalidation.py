"""The package's stat-checked ``zipimporter.invalidate_caches`` (Python < 3.12).

PySpark's worker calls ``importlib.invalidate_caches()`` before every task;
on Python 3.11 each ``zipimporter`` then re-reads its archive's central
directory.  Importing the engine package installs a version that re-reads an
archive only when it changed.  The unit tests count
``zipimport._read_directory`` calls per archive; the Spark test runs a
``local[1]`` job whose tasks report what their worker's invalidation read.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

import immich_geodata_zh_tw_spark as pkg

ROOT = Path(__file__).resolve().parents[1]

lazy = pytest.mark.skipif(sys.version_info >= (3, 12),
                          reason="the stdlib invalidation is lazy from 3.12")


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    """Write ``modules`` (name -> source) to a zip at ``path`` atomically."""
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding one imported module, and a counter of
    ``_read_directory`` calls on that zip."""
    path = tmp_path / "mods.zip"
    names = [f"zipmod_{tmp_path.name}_{i}" for i in range(2)]
    _write_zip(path, {names[0]: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    importlib.import_module(names[0])
    reads: list[str] = []
    stdlib_read = zipimport._read_directory

    def counting(p):
        reads.append(p)
        return stdlib_read(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # the first invalidation reads it once
    reads.clear()
    yield path, names, lambda: reads.count(str(path))
    for name in names:
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)


@lazy
def test_unchanged_archive_is_not_reread(archive):
    path, _, reads = archive
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads() == 0
    importer = sys.path_importer_cache[str(path)]
    assert importer._files is zipimport._zip_directory_cache[str(path)]


@lazy
def test_replaced_archive_is_reread_once(archive):
    path, names, reads = archive
    _write_zip(path, {names[0]: "VALUE = 1\n", names[1]: "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads() == 1
    assert importlib.import_module(names[1]).VALUE == 2
    importlib.invalidate_caches()
    assert reads() == 1


@lazy
def test_deleted_archive_empties_files(archive):
    path, _, _ = archive
    path.unlink()
    importlib.invalidate_caches()
    assert sys.path_importer_cache[str(path)]._files == {}
    assert str(path) not in zipimport._zip_directory_cache


@lazy
def test_install_is_idempotent():
    method = zipimport.zipimporter.invalidate_caches
    assert method._stat_checked
    pkg._install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is method


@pytest.mark.skipif(sys.version_info < (3, 12), reason="needs Python >= 3.12")
def test_stdlib_method_untouched_from_312():
    assert not hasattr(zipimport.zipimporter.invalidate_caches,
                       "_stat_checked")


_PROBE_JOB = r'''
import json
import pandas as pd
from immich_geodata_zh_tw_spark.functions.zh import _py_s2t
from immich_geodata_zh_tw_spark.session import get_spark

def probe(batches):
    # unpickling this function imported the engine package (``_py_s2t`` is
    # pickled by reference), as unpickling any engine function does
    import importlib, os, zipimport
    from pyspark import TaskContext
    name = _py_s2t("台湾")
    reads = []
    stdlib_read = zipimport._read_directory
    def counting(path):
        reads.append(path)
        return stdlib_read(path)
    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = stdlib_read
    for _ in batches:
        pass
    method = zipimport.zipimporter.invalidate_caches
    yield pd.DataFrame({
        "part": [TaskContext.get().partitionId()], "pid": [os.getpid()],
        "engine": [getattr(method, "_stat_checked", False)],
        "reads": [len(reads)], "name": [name]})

spark = get_spark(app_name="zip-invalidation", parallelism=1)
rows = (spark.range(0, 5, numPartitions=5)
        .mapInPandas(probe, "part int, pid long, engine boolean, "
                            "reads int, name string")
        .collect())
print(json.dumps([r.asDict() for r in rows]))
spark.stop()
'''


@lazy
def test_worker_tasks_skip_the_zip_reread():
    """In every task after a worker's first, the worker runs the engine's
    invalidation, and one ``importlib.invalidate_caches()`` reads no zip."""
    env = dict(os.environ, PYTHONPATH=str(ROOT), SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", _PROBE_JOB], cwd=ROOT,
                         env=env, capture_output=True, text=True,
                         timeout=600, check=True).stdout
    rows = sorted(json.loads(out.strip().splitlines()[-1]),
                  key=lambda r: r["part"])
    assert [r["part"] for r in rows] == list(range(5))
    assert all(r["name"] == "臺灣" for r in rows)
    seen: set[int] = set()
    later = []
    for r in rows:
        if r["pid"] in seen:
            later.append(r)
        seen.add(r["pid"])
    assert later, "the worker was not reused"
    assert all(r["engine"] for r in later)
    assert [r["reads"] for r in later] == [0] * len(later)
