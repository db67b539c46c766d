"""Lazy zipimport cache invalidation (the CPython 3.12 behaviour, backported).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task. These tests count calls to ``zipimport._read_directory``: an
invalidation must not re-read an archive, yet a changed archive must still be
seen after one.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from collections import defaultdict

import pandas as pd
import pytest

from ocr_text_recognition_spark.zipimport_compat import install_lazy_zip_invalidation

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``zc_a`` on sys.path, and the list of archives
    whose directory was read since."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["zc_a"])
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read_directory(a))
    monkeypatch.syspath_prepend(path)
    yield path, reads
    for name in ("zc_a", "zc_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_invalidate_caches_does_not_reread_archive(archive):
    path, reads = archive
    import zc_a

    assert zc_a.NAME == "zc_a"
    n_reads = reads.count(path)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(path) == n_reads


def test_changed_archive_is_seen_after_invalidation(archive):
    path, _ = archive
    import zc_a  # noqa: F401

    _write_zip(path, ["zc_a", "zc_b"])
    importlib.invalidate_caches()
    import zc_b

    assert zc_b.NAME == "zc_b"


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="nothing is installed on CPython >= 3.12")
def test_second_install_is_harmless(archive):
    cls = zipimport.zipimporter
    patched = (cls.__dict__["_files"], cls.invalidate_caches)
    install_lazy_zip_invalidation()
    assert (cls.__dict__["_files"], cls.invalidate_caches) == patched
    import zc_a

    assert zc_a.NAME == "zc_a"


def test_nothing_patched_on_python_312():
    # A fresh interpreter that reports 3.12 before the package is imported.
    code = (
        "import sys, zipimport\n"
        "before = dict(vars(zipimport.zipimporter))\n"
        "sys.version_info = (3, 12, 0)\n"
        "from ocr_text_recognition_spark.zipimport_compat import install_lazy_zip_invalidation\n"
        "install_lazy_zip_invalidation()\n"
        "assert dict(vars(zipimport.zipimporter)) == before\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)


def test_spark_worker_stops_rereading_archives(spark):
    """Per task, each worker reports its pid and how many archive
    directories it has read since its first task here. From a worker's
    second task on the count must stop growing."""

    def probe(batches):
        from ocr_text_recognition_spark.extraction import udfs  # noqa: F401  the engine

        if not hasattr(zipimport._read_directory, "calls"):
            def counted(archive, _read=zipimport._read_directory):
                counted.calls += 1
                return _read(archive)

            counted.calls = counted.tasks = 0
            zipimport._read_directory = counted
        counted = zipimport._read_directory
        for _ in batches:
            pass
        counted.tasks += 1
        n_zip = sum(isinstance(i, zipimport.zipimporter) for i in sys.path_importer_cache.values())
        yield pd.DataFrame({"pid": [os.getpid()], "task": [counted.tasks], "reads": [counted.calls],
                            "n_zip": [n_zip]})

    rows = []
    for _ in range(3):
        df = spark.range(16, numPartitions=8).mapInPandas(probe, "pid long, task long, reads long, n_zip long")
        rows += df.collect()
    if not any(r["n_zip"] for r in rows):
        pytest.skip("the Python workers import nothing from zip archives")
    reads_by_task = defaultdict(dict)
    for r in rows:
        reads_by_task[r["pid"]][r["task"]] = r["reads"]
    assert max(len(tasks) for tasks in reads_by_task.values()) >= 3
    for pid, tasks in reads_by_task.items():
        later = [n for task, n in tasks.items() if task >= 2]
        assert len(set(later)) <= 1, (pid, sorted(tasks.items()))
