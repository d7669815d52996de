"""The Python worker's zip-archive guard (``pyworker.install_zip_guard``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every task;
unguarded, each ``zipimporter`` on its path re-reads its archive's central
directory (16 reads, ~26,700 entries). The guard re-reads an archive only
when its stat signature changed.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport


def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    from kafka_connect_storage_cloud_formats_spark import pyworker

    # restored at teardown: the guard stays out of the test process
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pyworker.install_zip_guard()
    guarded = zipimport.zipimporter.invalidate_caches
    pyworker.install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is guarded  # idempotent

    arc = tmp_path / "zg_mods.zip"
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("zg_first.py", "X = 1\n")
    imp = zipimport.zipimporter(str(arc))
    reads: list[str] = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or real(a))
    imp.invalidate_caches()  # never read under the guard yet: read, stat kept
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == [str(arc)]

    with zipfile.ZipFile(arc, "a") as z:
        z.writestr("zg_second.py", "Y = 2\n")
    imp.invalidate_caches()
    assert reads == [str(arc)] * 2
    assert imp.find_spec("zg_second") is not None

    # through the import system, as the worker's path sees it
    monkeypatch.syspath_prepend(str(arc))
    try:
        assert importlib.import_module("zg_first").X == 1  # caches the path's importer
        with zipfile.ZipFile(arc, "a") as z:
            z.writestr("zg_third.py", "Z = 3\n")
        importlib.invalidate_caches()
        assert importlib.import_module("zg_third").Z == 3
    finally:
        for name in ("zg_first", "zg_third"):
            sys.modules.pop(name, None)


def test_zip_guard_is_worker_only_and_skips_rereads_in_reused_workers(spark):
    from kafka_connect_storage_cloud_formats_spark.functions import vectors as engine

    assert not getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)

    def probe(batches):
        import os
        import time

        import pandas as pd

        started = time.monotonic_ns()
        reads = [0]
        real = zipimport._read_directory

        def counting(archive):
            reads[0] += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"pid": [os.getpid()], "t": [started], "reads": [reads[0]], "mod": [engine.__name__]}
        )

    # more tasks than task slots: some worker runs a second task, and by
    # then unpickling ``probe`` (which references an engine module) has
    # installed the guard in it
    rows = (
        spark.range(0, 32, numPartitions=32)
        .mapInPandas(probe, "pid long, t long, reads long, mod string")
        .collect()
    )
    by_pid: dict[int, list] = {}
    for r in rows:
        by_pid.setdefault(r.pid, []).append((r.t, r.reads))
    later = [reads for runs in by_pid.values() for _, reads in sorted(runs)[1:]]
    assert later, "no worker ran a second task"
    assert set(later) == {0}, by_pid
