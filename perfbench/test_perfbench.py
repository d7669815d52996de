"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench -q

They run every workload at a tiny size, check that each run reports every
metric by name and unit, and check that a tampered output counts as a
failed op.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402
from tracing import parse_sql_metric, union_seconds  # noqa: E402


def _bench(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["ingest", "curation", "query_mix"])
def test_tiny_run_reports_every_metric(workload, trace):
    res = _bench(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {n: res["metrics"][n]["unit"] for n, _ in want} == dict(want)
    assert len(res["metrics"]) == len(want)
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())
    else:
        assert res["metrics"]["spark.jobs"]["value"] > 0


def test_benchmark_json_matches_the_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == ["ingest", "curation", "query_mix"]


def test_tampered_ingest_output_is_a_failed_op(tmp_path):
    import workloads
    from kafka_connect_storage_cloud_formats_spark import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", run.DRIVER_MEMORY)
    spark = get_spark("perfbench-test")
    wl = workloads.Ingest(str(tmp_path), seed=5, tiny=True)
    wl.prepare()
    wl.setup(spark)
    for i in range(3):
        wl.run_op(spark, i, wl.next_input(i), None)
    assert wl.check(spark) == set()
    _, _, out_dir, keys = wl.done[1]
    os.remove(os.path.join(out_dir, keys[0]))
    wl.in_bytes = wl.out_bytes = 0
    assert wl.check(spark) == {1}


def test_tail_is_the_nearest_rank_p90():
    xs = [float(i) for i in range(1, 101)]
    assert run.tail(xs) == (90.0, 90.0)
    assert run.tail(xs[:11]) == (10.0, 1000.0 / 11)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert run.tail([5.0, 1.0, 4.0, 2.0]) == (5.0, 100.0)


def test_tree_cpu_counts_child_processes():
    c0 = run.tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"],
        check=True,
    )
    assert run.tree_cpu_s() - c0 >= 0.25


def test_sql_metric_parsing():
    assert parse_sql_metric("1,024", "sum") == 1024
    assert parse_sql_metric("12.5 KiB", "size") == 12.5 * 1024
    assert parse_sql_metric("8 ms", "timing") == 0.008
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 2 ms (stage 1.0: task 3))",
        "timing",
    ) == 1.5


def test_curation_fold_lands_on_the_second_timed_op(tmp_path):
    import workloads

    wl = workloads.Curation(str(tmp_path), seed=1, tiny=True)
    wl.prepare()
    assert wl.first_timed >= wl.warmup_ops
    assert (wl.first_timed + 1) % wl.fold_every == 0


def test_jobs_are_counted_in_the_span_they_were_submitted_in():
    from tracing import OpTrace

    t = OpTrace(0, 10.0, 20.0, spans=[("a", 10.0005, 12.0), ("b", 12.0, 20.0)])
    t.jobs = [(0, 10.0, 11.0), (1, 11.5, 13.0), (2, 12.5, 19.0), (3, 19.9, 20.0)]
    assert (t.jobs_in("a"), t.jobs_in("b"), t.jobs_in("c")) == (2, 2, 0)


def test_union_of_job_intervals():
    assert union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_seconds([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert union_seconds([], 0, 1) == 0
