"""Session factory: executor-worker import path.

Local-mode Python workers inherit the driver's *environment*, not its
``sys.path``; ``get_spark`` therefore exports the package parent on
``PYTHONPATH`` before the JVM starts so Pandas-UDF queries survive being
launched from any CWD (a driver harness, a notebook, /tmp).  On a real
cluster this is a no-op for executors — the package ships via
``--py-files`` / image install (documented in session.py).
"""

from __future__ import annotations

import os
import subprocess
import sys

from kafka_connect_storage_cloud_formats_spark import session as session_mod


def test_worker_import_path_export_is_idempotent(monkeypatch):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    session_mod._ensure_worker_import_path()
    first = os.environ["PYTHONPATH"]
    assert first.split(os.pathsep)[0] == session_mod._PKG_PARENT
    session_mod._ensure_worker_import_path()
    assert os.environ["PYTHONPATH"] == first  # no duplicate prepend


def test_worker_import_path_preserves_existing_entries(monkeypatch):
    monkeypatch.setenv("PYTHONPATH", "/some/other/lib")
    session_mod._ensure_worker_import_path()
    parts = os.environ["PYTHONPATH"].split(os.pathsep)
    assert parts[0] == session_mod._PKG_PARENT
    assert "/some/other/lib" in parts


def test_default_driver_memory_is_half_the_host_capped_at_48g():
    gib = 2**30
    assert session_mod._default_driver_memory(16 * gib) == "8192m"
    assert session_mod._default_driver_memory(15 * gib + 12345) == "7680m"
    assert session_mod._default_driver_memory(96 * gib) == "49152m"
    assert session_mod._default_driver_memory(512 * gib) == "49152m"


def test_pandas_udf_query_from_foreign_cwd(tmp_path):
    """End-to-end: a mapInPandas registry query run by a fresh driver process

    whose CWD is NOT the repo and whose environment carries no PYTHONPATH.
    Without the session-factory export the Python worker dies with
    ModuleNotFoundError unpickling the UDF (measured before the fix)."""
    script = tmp_path / "driver.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {session_mod._PKG_PARENT!r})\n"
        "from kafka_connect_storage_cloud_formats_spark.session import get_spark\n"
        "from kafka_connect_storage_cloud_formats_spark.queries.registry import QUERIES\n"
        "spark = get_spark()\n"
        "df = QUERIES['media_feature_extract'][0](spark, '/root/testdata/sf0.001')\n"
        "print('ROWS=' + str(df.count()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "ROWS=" in proc.stdout
    rows = int(proc.stdout.split("ROWS=")[1].split()[0])
    assert rows > 0
