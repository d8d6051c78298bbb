"""The Python workers' zip-archive directory cache, checked without Spark.

``_worker_zipimport.install`` replaces ``zipimporter.invalidate_caches``
for the whole process, so the checks run in a subprocess and the pytest
process keeps the stdlib method.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import importlib, json, os, sys, zipfile, zipimport

out = {}
stdlib = zipimport.zipimporter.invalidate_caches
import cdr_analysis_tools_hadoop_spark.pipeline  # imports pyspark.taskcontext
out["driver_keeps_stdlib"] = zipimport.zipimporter.invalidate_caches is stdlib

from cdr_analysis_tools_hadoop_spark import _worker_zipimport

archive = os.path.join(sys.argv[1], "lib.zip")


def write_archive(names):
    tmp = archive + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in names:
            z.writestr(name, "VALUE = %r\n" % name)
    os.replace(tmp, archive)


reads = []
read_directory = zipimport._read_directory


def counting_read(path):
    if path == archive:
        reads.append(path)
    return read_directory(path)


zipimport._read_directory = counting_read


def invalidate():
    del reads[:]
    importlib.invalidate_caches()
    return len(reads)


def shares_last_read():
    # every importer of the archive holds the cached directory
    cached = zipimport._zip_directory_cache.get(archive)
    importers = [
        imp for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
    ]
    return len(importers), all(imp._files is cached for imp in importers)


write_archive(["m1.py", "pkg/__init__.py", "pkg/a.py"])
sys.path.insert(0, archive)
import m1, pkg.a  # a root importer and one for the "pkg/" prefix

_worker_zipimport.install()
_worker_zipimport.install()  # a second install changes nothing
out["first_reads"] = invalidate()  # no stat taken at a read yet
out["unchanged_reads"] = invalidate()
out["shares_after_unchanged"] = shares_last_read()

write_archive(["m1.py", "m2.py", "pkg/__init__.py", "pkg/a.py", "pkg/b.py"])
out["changed_reads"] = invalidate()
out["shares_after_change"] = shares_last_read()
import m2, pkg.b
out["new_modules"] = [m2.VALUE, pkg.b.VALUE]
out["after_change_reads"] = invalidate()

# same size and mtime, other bytes (stored entries of equal length)
st = os.stat(archive)
write_archive(["m1.py", "m2.py", "pkg/__init__.py", "pkg/a.py", "pkg/B.py"])
os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
out["same_size_and_mtime"] = os.stat(archive).st_size == st.st_size
out["same_stat_rewrite_reads"] = invalidate()

os.remove(archive)
out["missing_reads"] = invalidate()
out["missing_cached"] = archive in zipimport._zip_directory_cache
write_archive(["m3.py", "pkg/__init__.py", "pkg/c.py"])
out["restored_reads"] = invalidate()
import m3, pkg.c
out["restored_modules"] = [m3.VALUE, pkg.c.VALUE]
print(json.dumps(out))
"""


def _run(tmp_path) -> dict:
    r = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_invalidate_rereads_only_changed_archives(tmp_path):
    out = _run(tmp_path)
    assert out["driver_keeps_stdlib"]
    # the stdlib reads once per importer; the hook reads once per
    # archive and hands the result to the other importer
    assert out["first_reads"] == 1
    assert out["unchanged_reads"] == 0
    assert out["shares_after_unchanged"] == [2, True]
    # rewritten in place with more entries: re-read, seen by both
    # importers, so the new module and the new submodule import
    assert out["changed_reads"] == 1
    assert out["shares_after_change"] == [2, True]
    assert out["new_modules"] == ["m2.py", "pkg/b.py"]
    assert out["after_change_reads"] == 0
    # a rewrite that keeps size and mtime still changes st_ctime_ns
    assert out["same_size_and_mtime"]
    assert out["same_stat_rewrite_reads"] == 1
    # os.stat fails: the stdlib method runs and drops the cached entry;
    # the archive restored under the same path is read again
    assert out["missing_reads"] == 2
    assert not out["missing_cached"]
    assert out["restored_reads"] == 1
    assert out["restored_modules"] == ["m3.py", "pkg/c.py"]
