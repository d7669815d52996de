"""Traced-run instrumentation: labelled Spark jobs, spans and counters read
from Spark's own status stores after every op.

Spark keeps only the last 1000 jobs, stages and SQL executions, so the
stores are read right after each op, never at the end of the run. The
tracer owns only in-memory state; ``write`` puts the spans on disk once
the run is over.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

# SQL node metric name -> counter it adds to.
_SQL_COUNTERS = {
    "number of written files": "write_files",
    "written output": "write_bytes",
    "task commit time": "task_commit_s",
    "job commit time": "job_commit_s",
    "time to run Python workers": "python_s",
    "data sent to Python workers": "arrow_bytes",
    "data returned from Python workers": "arrow_bytes",
}


def parse_sql_metric(text: str, kind: str) -> float:
    """Value of one formatted SQL metric. Spark renders a metric either as
    ``12.4 KiB`` or, once several tasks reported it, as
    ``total (min, med, max ...)\\n12.4 KiB (...)``; the total comes first."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip().replace(",", "")
    if kind == "size":
        num, unit = text.split()
        return float(num) * _SIZE[unit]
    if kind in ("timing", "nsTiming"):
        num, unit = text.split()
        return float(num) * _TIME[unit]
    return float(text)


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``[start, end]`` intervals clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class OpTrace:
    """What one op did, as Spark's status stores saw it."""

    op: int
    start: float  # epoch seconds
    end: float
    jobs: list = field(default_factory=list)  # (job_id, submit_s, complete_s)
    counters: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)  # (name, start, end)

    def add(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value

    def busy_s(self, lo: float | None = None, hi: float | None = None) -> float:
        """Seconds of ``[lo, hi]`` (default: the whole op) in which at
        least one Spark job was running."""
        return union_seconds(
            [(s, e) for _, s, e in self.jobs],
            self.start if lo is None else lo,
            self.end if hi is None else hi,
        )

    def span_s(self, name: str) -> float:
        return sum(e - s for n, s, e in self.spans if n == name)

    def jobs_in(self, name: str) -> int:
        """Jobs submitted inside a span called ``name``. Spark stamps
        submit times in whole milliseconds, rounded down."""
        return sum(
            any(n == name and s <= sub + 1e-3 and sub <= e for n, s, e in self.spans)
            for _, sub, _ in self.jobs
        )


class Tracer:
    """Labels each traced op's jobs with ``setJobGroup`` and, after the op,
    reads its jobs, stages and SQL executions from the status stores.

    Jobs are found by id range: the benchmark is the only client, so every
    job submitted between two ops belongs to the op in between, including
    jobs the engine submits from its own thread pools (which do not
    inherit the job group)."""

    def __init__(self) -> None:
        self.traces: list[OpTrace] = []
        self.read_s = 0.0  # time spent reading the stores
        self._cur: OpTrace | None = None
        self._last_exec = -1

    def attach(self, spark) -> None:
        """Bind to a (new) session; executions before now are not ours."""
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.skip_op()

    @contextmanager
    def op(self, op_id: int, label: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{op_id}", f"perfbench {label} op {op_id}")
        job0 = self._jsc.dagScheduler().nextJobId()
        cur = self._cur = OpTrace(op_id, time.time(), 0.0)
        try:
            yield cur
        finally:
            cur.end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._cur = None
            t = time.perf_counter()
            self._read(cur, job0, self._jsc.dagScheduler().nextJobId())
            self.read_s += time.perf_counter() - t
            self.traces.append(cur)

    @contextmanager
    def span(self, name: str):
        """A span inside the current op (no-op outside one)."""
        start = time.time()
        try:
            yield
        finally:
            if self._cur is not None:
                self._cur.spans.append((name, start, time.time()))

    def skip_op(self) -> None:
        """Mark every SQL execution so far as not ours, without reading
        them (after an untraced op)."""
        self._jsc.listenerBus().waitUntilEmpty()
        n = self._sql.executionsCount()
        if n:
            self._last_exec = self._sql.executionsList(n - 1, 1).head().executionId()

    def _read(self, cur: OpTrace, job0: int, job1: int) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        for job_id in range(job0, job1):
            job = store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                cur.jobs.append(
                    (job_id, sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
            cur.add("jobs", 1)
            it = job.stageIds().iterator()
            while it.hasNext():
                self._read_stage(cur, store.lastStageAttempt(it.next()))
        for ex in self._new_executions():
            self._read_execution(cur, ex)

    def _read_stage(self, cur: OpTrace, st) -> None:
        if st.status().toString() == "SKIPPED":
            return
        cur.add("stages", 1)
        cur.add("tasks", st.numCompleteTasks() + st.numFailedTasks())
        cur.add("failed_tasks", st.numFailedTasks())
        run_s = st.executorRunTime() / 1e3
        cpu_s = st.executorCpuTime() / 1e9
        cur.add("executor_run_s", run_s)
        cur.add("executor_cpu_s", cpu_s)
        cur.add("gc_s", st.jvmGcTime() / 1e3)
        cur.add("shuffle_read_bytes", st.shuffleReadBytes())
        cur.add("shuffle_write_bytes", st.shuffleWriteBytes())
        cur.add("spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())
        if st.inputBytes() > 0:  # a stage that scans the op's input files
            cur.add("scan_cpu_s", cpu_s)

    def _new_executions(self):
        n = self._sql.executionsCount()
        if n == 0:
            return []
        out, offset = [], n
        while offset > 0:
            take = min(16, offset)
            offset -= take
            chunk = self._sql.executionsList(offset, take)
            it, got = chunk.iterator(), []
            while it.hasNext():
                got.append(it.next())
            new = [x for x in got if x.executionId() > self._last_exec]
            out[:0] = new
            if len(new) < len(got):
                break
        if out:
            self._last_exec = out[-1].executionId()
        return out

    def _read_execution(self, cur: OpTrace, ex) -> None:
        values = self._sql.executionMetrics(ex.executionId())
        nodes = self._sql.planGraph(ex.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            scan = node.name().startswith("Scan ")
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                counter = _SQL_COUNTERS.get(m.name())
                if scan and m.name() == "number of output rows":
                    counter = "scan_rows"
                if counter is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    cur.add(counter, parse_sql_metric(v.get(), m.metricType()))

    def write(self, path: str, t0: float) -> None:
        """Spans as JSON lines: op → call/plan-build → Spark job, sharing
        the op id; times are seconds since ``t0`` (epoch)."""
        with open(path, "w") as f:
            for tr in self.traces:
                op_span = f"op-{tr.op}"
                rows = [(op_span, None, "op", tr.start, tr.end)]
                for i, (name, s, e) in enumerate(tr.spans):
                    rows.append((f"{op_span}.{i}", op_span, name, s, e))
                for job_id, s, e in tr.jobs:
                    parent = op_span
                    for i, (_, cs, ce) in enumerate(tr.spans):
                        if cs <= s and e <= ce:
                            parent = f"{op_span}.{i}"
                    rows.append((f"{op_span}.job{job_id}", parent, "spark_job", s, e))
                for span_id, parent, name, s, e in rows:
                    f.write(
                        json.dumps(
                            {
                                "op": tr.op,
                                "span": span_id,
                                "parent": parent,
                                "name": name,
                                "start_s": round(s - t0, 6),
                                "end_s": round(e - t0, 6),
                            }
                        )
                        + "\n"
                    )
