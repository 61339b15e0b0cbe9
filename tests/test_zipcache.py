"""The Python worker's zip-cache hook (``zipcache``): an unchanged archive
is not re-read on ``invalidate_caches``, a rewritten one is, and the hook
is active in the session's workers once they ran an extraction task."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from gemini_ocr_batch_spark import zipcache


@pytest.fixture
def hooked(monkeypatch):
    """The hook installed for one test, the stock method restored after."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    if not zipcache.install():
        pytest.skip("this interpreter's zipimporter does not re-read")
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # a new inode, as a re-shipped --py-files zip


def test_unchanged_archive_is_read_once_and_a_rewritten_one_again(
        hooked, tmp_path, monkeypatch):
    archive = str(tmp_path / "deps.zip")
    _write_zip(archive, {"zc_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_first", "zc_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importer = zipimport.zipimporter(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, importer)
    assert importlib.import_module("zc_first").X == 1
    hooked.clear()  # the importer's own first read

    importlib.invalidate_caches()  # first call under the hook: reads
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert hooked.count(archive) == 1

    _write_zip(archive, {"zc_first": "X = 1\n", "zc_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert hooked.count(archive) == 2
    assert importlib.import_module("zc_second").Y == 2
    importlib.invalidate_caches()
    assert hooked.count(archive) == 2


def test_install_is_idempotent(hooked):
    patched = zipimport.zipimporter.invalidate_caches
    assert zipcache.install() and zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is patched


def test_hook_is_active_in_workers_after_an_extraction_task(spark):
    """Every task runs the extraction UDF on one page; each task first
    reports whether its worker already had the hook. A worker's first
    task may not (a fresh worker), every later one must."""
    def probe(batches):
        import os
        import time
        import zipimport

        import pyarrow as pa

        from gemini_ocr_batch_spark import zipcache
        from gemini_ocr_batch_spark.operators.extract import (
            _extract_attempts_arrow,
        )

        active = (zipimport.zipimporter.invalidate_caches
                  is zipcache._invalidate_caches)
        t = time.monotonic()
        page = pa.record_batch(
            [pa.array(["https://z/0"]), pa.array([0], pa.timestamp("us")),
             pa.array([b"<p>alpha beta gamma</p>"]), pa.array([1])],
            names=["url", "warc_ts", "html", "_budget"])
        rows = sum(b.num_rows for b in _extract_attempts_arrow(iter([page])))
        for _ in batches:
            pass
        yield pa.record_batch(
            [pa.array([os.getpid()]), pa.array([t]), pa.array([active]),
             pa.array([rows])],
            names=["pid", "t", "active", "rows"])

    tasks = spark.range(16, numPartitions=16).mapInArrow(
        probe, "pid long, t double, active boolean, rows long").collect()
    assert {r["rows"] for r in tasks} == {1}
    by_pid: dict[int, list] = {}
    for r in sorted(tasks, key=lambda r: r["t"]):
        by_pid.setdefault(r["pid"], []).append(r["active"])
    assert any(len(seen) > 1 for seen in by_pid.values())
    assert all(all(seen[1:]) for seen in by_pid.values()), by_pid
