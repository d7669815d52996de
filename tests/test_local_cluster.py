"""Multi-process executor correctness: the oracle gate under local-cluster.

Every other test runs ``local[N]`` — one JVM, executors as threads, Python
workers forked from the driver process. That mode cannot catch a category
of deployment bug: state that happens to live in the driver process
(sys.path, env, py4j handles, driver-local temp files) being silently
depended on at EXECUTION time. ``local-cluster[n,c,mem]`` is Spark's
multi-process standalone mode — executors are separate JVMs launched by a
worker, each forking its own Python workers — the same process topology as
a real cluster, minus the network.

One subprocess runs the repo's own oracle gate (tools/check_correctness.py,
the exact comparator the driver uses) under ``SPARK_GRAFT_MASTER=
local-cluster[2,2,2048]`` on a representative query slice spanning every
executor-boundary class:

- ``q1_pricing_summary``   — relational agg, decimal-sum discipline
- ``minhash_lsh_pairs``    — Pandas-UDF signature build + artifact
                             publish/consume (fresh artifact root, so the
                             BUILD runs under multi-process executors)
- ``media_feature_extract``— Arrow mapInPandas over binary media columns
- ``events_session_30m``   — session windows over normalized timestamps
- ``orc_ingest_roundtrip`` — envelope synthesis + parity ORC sink finalize
                             (Hadoop FS rename protocol) + read-back

Hash-match against DuckDB in that topology proves the plans carry
everything they need across a real process boundary — the load-bearing
claim behind "design for multi-executor via partitioning, test locally".
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = [
    "q1_pricing_summary",
    "minhash_lsh_pairs",
    "media_feature_extract",
    "events_session_30m",
    "orc_ingest_roundtrip",
]


def test_oracle_gate_under_local_cluster(tmp_path):
    env = dict(os.environ)
    env["SPARK_GRAFT_MASTER"] = "local-cluster[2,2,2048]"
    # Fresh artifact root: the gate must BUILD the signature artifact under
    # multi-process executors, not hit a generation published by the
    # local[N] suite earlier in this run.
    env["SPARK_GRAFT_ARTIFACT_ROOT"] = str(tmp_path / "artifacts")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_correctness.py"),
         "/root/testdata/sf0.001", *QUERIES],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    tail = "\n".join((proc.stdout + proc.stderr).splitlines()[-25:])
    assert proc.returncode == 0, f"oracle gate failed under local-cluster:\n{tail}"
    for q in QUERIES:
        assert q in proc.stdout, f"{q} missing from gate output:\n{tail}"
