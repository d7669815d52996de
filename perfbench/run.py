#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one client, no think time.

    python3 perfbench/run.py --workload {ingest,curation,query_mix} \\
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. It builds nothing: the engine is plain
Python and is imported from the checkout. One run:

1. makes the set-up's inputs from ``--seed`` (not timed, not part of
   set-up);
2. sets up: starts the interpreter, the JVM and a SparkSession, makes the
   workload's per-session state and runs a fixed number of untimed warm-up
   ops so the JIT has settled (query_mix: two warm passes, the first of
   which builds every plan and every artifact). ``setup_s`` is the time
   from process start to the first timed op, input generation excluded;
3. runs ops back to back until ``--seconds`` of op time have passed
   (``query_mix`` finishes the pass it is in); each op's input is made
   before its clock starts;
4. checks every timed op's output; a wrong output is a failed op;
5. prints a table of every metric and, as its last line, one JSON object.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the separate
traced run: it reads Spark's status stores after every other op and
reports the per-layer table, its own overhead, and writes spans and the
table under ``.perfbench/results/``. All scratch data lives under
``.perfbench/run-*`` in the checkout and is deleted at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

import workloads
from workloads import FAMILIES

DRIVER_MEMORY = "2g"
# The driver JVM's compiler and collector. With the default tiered C2
# compiler, half a core still goes to compiling during the timed window and
# an op's CPU depends on which methods the JIT had reached; C1 alone spends
# a quarter of that. The serial collector gives a heap, and so a peak RSS,
# that grows the same way on every run.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:-UsePerfData"

# Gated. The op metrics count CPU seconds of the whole process tree (this
# interpreter, the JVM, its Python workers), not wall time: on a shared
# host the wall time of the same run moves by up to half with the
# neighbours' load (README, "Noise"), while the CPU an op burns moves less.
END_TO_END = (
    ("setup_s", "s"),
    ("items_per_cpu_s", "1/s"),
    ("op_cpu_p50_s", "s"),
    ("op_cpu_tail_s", "s"),
    ("peak_rss_mb", "MB"),
)
# Printed by every untraced run and kept in result.json, but not gated: the
# wall-time metrics move with the host's load; error_rate is 0 on a correct
# run (the JSON line carries it as failed/attempted) and query_mix writes no
# output bytes, while a gated metric must never be 0.
REPORTED = (
    ("items_per_s", "1/s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("error_rate", "ratio"),
    ("out_bytes_per_in_byte", "ratio"),
    ("ops.count", "count"),
    ("ops.tail_pct", "%"),
)
PER_LAYER = (
    ("session.start_s", "s"),
    ("sources.rows_in", "count/op"),
    ("sources.scan_decode_cpu_s", "s/op"),
    ("pipeline.run_batch_s", "s/op"),
    ("pipeline.jobs", "count/op"),
    ("pipeline.driver_s", "s/op"),
    ("sinks.files", "count/op"),
    ("sinks.bytes", "B/op"),
    ("sinks.task_commit_s", "s/op"),
    ("sinks.job_commit_s", "s/op"),
    ("streaming.process_batch_s", "s/op"),
    ("streaming.jobs", "count/op"),
    ("streaming.fold_s", "s/op"),
    ("streaming.state_bytes", "B"),
    ("queries.build_s", "s/op"),
    ("queries.plan_cache_hit_ratio", "ratio"),
    ("artifacts.built_setup", "count"),
    ("artifacts.bytes", "B"),
    ("artifacts.built_timed", "count"),
    *[(f"operators.{f}.{m}", u) for f in FAMILIES for m, u in (("exec_s", "s/op"), ("jobs", "count/op"))],
    ("functions.python_s", "s/op"),
    ("functions.arrow_bytes", "B/op"),
    ("spark.jobs", "count/op"),
    ("spark.stages", "count/op"),
    ("spark.tasks", "count/op"),
    ("spark.executor_run_s", "s/op"),
    ("spark.executor_cpu_s", "s/op"),
    ("spark.gc_s", "s/op"),
    ("spark.shuffle_read_bytes", "B/op"),
    ("spark.shuffle_write_bytes", "B/op"),
    ("spark.spill_bytes", "B/op"),
    ("spark.failed_tasks", "count/op"),
    ("spark.idle_s", "s/op"),
    ("out_bytes_per_in_byte", "ratio"),
    ("error_rate", "ratio"),
    ("ops.count", "count"),
    ("ops.tail_pct", "%"),
    ("trace.overhead_pct", "%"),
    ("trace.read_s", "s/op"),
)


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the 90th percentile by nearest rank: the
    ceil(0.9 n)-th smallest of n samples, and the rank as a percentile.

    Not the highest percentile with ten samples beyond it: a run has 4 to
    80 ops, and below 21 that percentile falls under the median."""
    xs = sorted(samples)
    k = -(-9 * len(xs) // 10)
    return xs[k - 1], 100.0 * k / len(xs)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the JVM and its Python workers), reaped children included."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def isolate(run_dir: str) -> None:
    """Give the run its own temp, artifact and Spark local dirs before the
    JVM starts, so no run sees another's artifacts or shuffle files."""
    import tempfile

    for sub in ("tmp", "local", "artifacts"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "SPARK_GRAFT_ARTIFACT_ROOT": os.path.join(run_dir, "artifacts"),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "PYSPARK_PYTHON": sys.executable,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_op(wl, spark, i: int, tracer, traced: bool) -> tuple[float, float, int, bool]:
    """Run op ``i``; returns (seconds, CPU seconds, items, ok). Tracing work
    happens outside the timed region."""
    ctx = tracer.op(i, wl.name) if traced else nullcontext()
    inp = wl.next_input(i)
    with ctx:
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            items = wl.run_op(spark, i, inp, tracer if traced else None)
            ok = True
        except Exception:
            traceback.print_exc()
            items, ok = 0, False
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
    return dt, cpu, items, ok


def run(args) -> dict:
    root = os.getcwd()
    run_dir = os.path.join(root, ".perfbench", f"run-{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench", "results", f"{args.workload}-s{args.seed}-t{args.trace}")
    isolate(run_dir)
    spark = None
    try:
        from kafka_connect_storage_cloud_formats_spark import get_spark

        wl = workloads.WORKLOADS[args.workload](run_dir, args.seed, args.tiny)
        t = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        wl.setup(spark)
        setup_s = process_age_s() - gen_s

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
            tracer.attach(spark)
        t_window = time.time()
        steal0, total0 = cpu_jiffies()
        lat, cpu, items, failed, traced_lat, plain_lat = [], [], 0, set(), [], []
        i, timed = 0, 0.0
        limit = time.perf_counter() + 2 * args.seconds + 30
        while not (timed >= args.seconds and wl.at_boundary(i)):
            if time.perf_counter() > limit:
                break
            traced = tracer is not None and wl.traced(i)
            dt, c, n, ok = timed_op(wl, spark, i, tracer, traced)
            if tracer is not None and not traced:
                tracer.skip_op()
            (traced_lat if traced else plain_lat).append(dt)
            lat.append(dt)
            cpu.append(c)
            items += n
            timed += dt
            if not ok:
                failed.add(i)
            i += 1

        steal1, total1 = cpu_jiffies()
        from pyspark import SparkContext

        rss_mb = (vm_hwm_kb(SparkContext._gateway.proc.pid) + _py_maxrss_kb()) / 1024
        failed |= wl.check(spark)
        p_tail, pct = tail(lat)
        extra = {
            "items_per_s": items / timed,
            "op_p50_s": statistics.median(lat),
            "op_tail_s": p_tail,
            "error_rate": len(failed) / len(lat),
            "out_bytes_per_in_byte": wl.out_bytes / wl.in_bytes if wl.in_bytes else 0.0,
            "ops.count": float(len(lat)),
            "ops.tail_pct": pct,
        }
        layers = {}
        if tracer is not None:
            traces = tracer.traces
            layers = {name: 0.0 for name, _ in PER_LAYER}
            layers.update({n: extra[n] for n, _ in PER_LAYER if n in extra})
            layers.update(workloads.spark_layer(traces))
            layers.update(wl.layers(traces))
            layers["trace.read_s"] = tracer.read_s / max(1, len(traces))
            if traced_lat and plain_lat:
                layers["trace.overhead_pct"] = 100.0 * (
                    statistics.median(traced_lat) / statistics.median(plain_lat) - 1
                )
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, "spans.jsonl"), t_window)
        e2e = {
            "setup_s": setup_s,
            "items_per_cpu_s": items / max(sum(cpu), 1e-9),
            "op_cpu_p50_s": statistics.median(cpu),
            "op_cpu_tail_s": tail(cpu)[0],
            "peak_rss_mb": rss_mb,
        }
        if tracer is not None:
            layers["session.start_s"] = session_s
            write_layer_table(out_dir, args, layers)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "items": items,
            "item": wl.item,
            "session_s": session_s,
            "gen_s": gen_s,
            "latencies_s": lat,
            "op_cpu_s": cpu,
            "failed_ops": sorted(failed),
            # CPU time the hypervisor gave to other guests during the timed
            # window: not a metric, but it tells a slow run from a slow host.
            "host_steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "end_to_end": e2e,
            "extra": extra,
            "per_layer": layers,
        }
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "result.json"), "w") as f:
            json.dump(detail, f, indent=1)
        return detail
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _py_maxrss_kb() -> int:
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss


def write_layer_table(out_dir: str, args, layers: dict) -> None:
    with open(os.path.join(out_dir, "layers.json"), "w") as f:
        json.dump(layers, f, indent=1)
    with open(os.path.join(out_dir, "layers.md"), "w") as f:
        f.write(f"# {args.workload}, seed {args.seed}, {args.seconds} s, traced\n\n")
        f.write("| metric | value | unit |\n|---|---:|---|\n")
        for name, unit in PER_LAYER:
            f.write(f"| {name} | {layers[name]:.6g} | {unit} |\n")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (the benchmark's own tests)")
    args = p.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    try:
        import kafka_connect_storage_cloud_formats_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {os.getcwd()}: {e}", file=sys.stderr)
        return 2
    d = run(args)
    if args.trace:
        metrics = {n: {"value": d["per_layer"][n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": d["end_to_end"][n], "unit": u} for n, u in END_TO_END}
    print(f"# {args.workload} seed={args.seed} ops={len(d['latencies_s'])} "
          f"items={d['items']} ({d['item']}) failed={len(d['failed_ops'])} "
          f"host_steal={d['host_steal_pct']:.1f}%")
    rows = [(n, m["value"], m["unit"]) for n, m in metrics.items()]
    if not args.trace:
        rows += [(n, d["extra"][n], u) for n, u in REPORTED]
    for name, value, unit in rows:
        print(f"#   {name:34s} {value:>14.6g} {unit}")
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "correct": not d["failed_ops"],
                "attempted": len(d["latencies_s"]),
                "failed": len(d["failed_ops"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
