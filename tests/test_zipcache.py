"""The worker-only zip-import cache (gfw_pixetl_spark/_zipcache.py): an
unchanged archive's directory is not re-read on ``invalidate_caches()``,
a changed one is, and only a Spark task's process installs it.

The probes run in subprocesses so that installing the shim never reaches
the pytest process; they assert on the installed function and on read
counts, not on time."""

from __future__ import annotations

import json
import subprocess
import sys
import zipimport

import pytest

from gfw_pixetl_spark import _zipcache
from tests.conftest import REPO

# argv: zip path, "shim" | "stdlib". Imports a package and a subpackage
# from a fresh zip, counts _read_directory calls of that zip over
# importlib.invalidate_caches(), then adds a module to the zip.
_ZIP_PROBE = r"""
import importlib, json, sys, zipfile, zipimport
from pyspark.taskcontext import TaskContext
from gfw_pixetl_spark import _zipcache

path, mode = sys.argv[1], sys.argv[2]
mods = {"pkg/__init__.py": "", "pkg/sub/__init__.py": "",
        "pkg/sub/a.py": "A = 1\n"}

def write(files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)

write(mods)
sys.path.insert(0, path)
import pkg.sub.a
out = {"outside_task": _zipcache.install()}
if mode == "shim":
    TaskContext._setTaskContext(TaskContext._getOrCreate())
    out["in_task"] = _zipcache.install()
out["patched"] = (zipimport.zipimporter.invalidate_caches
                  is _zipcache.invalidate_caches)
out["importers"] = sum(
    isinstance(f, zipimport.zipimporter) and f.archive == path
    for f in sys.path_importer_cache.values())

reads = []
stdlib_read = zipimport._read_directory
def counting(archive):
    reads.append(archive)
    return stdlib_read(archive)
zipimport._read_directory = counting

def reads_of_one_invalidation():
    reads.clear()
    importlib.invalidate_caches()
    return reads.count(path)

out["unchanged"] = [reads_of_one_invalidation() for _ in range(3)]
write({**mods, "pkg/sub/b.py": "B = 2\n"})
out["changed"] = reads_of_one_invalidation()
import pkg.sub.b
out["B"] = pkg.sub.b.B
out["after"] = reads_of_one_invalidation()
print(json.dumps(out))
"""

# Four sequential one-task jobs on local[2]: each task reports its
# worker's pid, whether the shim is installed, the archives its
# zipimporters read, which of them the shim has stamped and whether
# every zipimporter shares the cached directory.
_SPARK_PROBE = r"""
import json, zipimport
from gfw_pixetl_spark import _zipcache
from gfw_pixetl_spark.session import get_spark, local_frame

def probe(batches):
    import os, sys, zipimport
    import pandas as pd
    from gfw_pixetl_spark import _zipcache
    for _ in batches:
        pass
    zips = [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)]
    yield pd.DataFrame({
        "pid": [os.getpid()],
        "installed": [zipimport.zipimporter.invalidate_caches
                      is _zipcache.invalidate_caches],
        "archives": [json.dumps(sorted({f.archive for f in zips}))],
        "stamped": [json.dumps(sorted(_zipcache._stamps))],
        "shared": [all(f._files is zipimport._zip_directory_cache.get(
            f.archive) for f in zips)],
    })

spark = get_spark("zipcache-test", master="local[2]", extra_conf={
    "spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"})
one = local_frame(spark, [(0,)], "i long")
schema = "pid long, installed boolean, archives string, stamped string, " \
         "shared boolean"
rows = [one.mapInPandas(probe, schema).collect()[0].asDict()
        for _ in range(4)]
driver = zipimport.zipimporter.invalidate_caches is _zipcache._STDLIB
spark.stop()
print(json.dumps({"rows": rows, "driver_stdlib": driver}))
"""


def _run(code: str, *args: str) -> dict:
    out = subprocess.run([sys.executable, "-c", code, *args], cwd=REPO,
                         capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_driver_keeps_stdlib_invalidation():
    assert _zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is _zipcache._STDLIB


@pytest.mark.skipif(not _zipcache._eager_rereads(),
                    reason="zipimport does not re-read on invalidation")
def test_unchanged_zip_is_not_reread(tmp_path):
    path = str(tmp_path / "mods.zip")
    shim = _run(_ZIP_PROBE, path, "shim")
    stdlib = _run(_ZIP_PROBE, path, "stdlib")
    # zip root, pkg/ and pkg/sub/ each have a zipimporter
    assert shim["importers"] == stdlib["importers"] == 3
    assert shim["outside_task"] is False and stdlib["patched"] is False
    assert shim["in_task"] is True and shim["patched"] is True
    # the first invalidation stamps the archive, later ones read nothing
    assert shim["unchanged"] == [1, 0, 0]
    assert stdlib["unchanged"] == [3, 3, 3]
    # a rewritten archive is read once, for all three importers, and its
    # new module imports as it does unpatched
    assert (shim["changed"], stdlib["changed"]) == (1, 3)
    assert shim["B"] == stdlib["B"] == 2
    assert (shim["after"], stdlib["after"]) == (0, 3)


@pytest.mark.skipif(not _zipcache._eager_rereads(),
                    reason="zipimport does not re-read on invalidation")
def test_spark_worker_installs_from_second_task():
    res = _run(_SPARK_PROBE)
    assert res["driver_stdlib"] is True
    rows = res["rows"]
    # the UDF's own import installs it in the first task of each worker,
    # after that task's pre-task invalidation
    assert all(r["installed"] for r in rows)
    assert json.loads(rows[0]["stamped"]) == []
    seen, repeats = set(), []
    for r in rows:
        (repeats if r["pid"] in seen else []).append(r)
        seen.add(r["pid"])
    assert repeats, "no worker ran two tasks"
    for r in repeats:
        archives = json.loads(r["archives"])
        if not archives:
            pytest.skip("the worker imports nothing from a zip")
        # from the second task on, the shim handled the pre-task
        # invalidation of every archive and the importers share one
        # directory per archive
        assert set(archives) <= set(json.loads(r["stamped"]))
        assert r["shared"] is True
