"""The three workloads. Each calls only the engine's public entry points.

A workload object lives for one run. ``prepare`` makes the set-up's inputs
(before any clock starts), ``setup`` readies the SparkSession and runs a
fixed number of untimed warm-up ops, ``next_input``/``run_op`` are the
untimed and timed halves of one op, ``check`` verifies every timed op's
output afterwards, and ``layers`` turns the traced ops into the per-layer
table.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

import gen
from tracing import OpTrace

# The engine's sf0.01 test corpus (the ten catalog tables, 60k lineitem
# rows), copied byte for byte (SHA256SUMS) because a run reads only its
# checkout. query_mix reads it and never writes it.
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus", "sf0.01")

FAMILIES = (
    "relational", "text", "dedup", "ann", "events", "multimodal", "profiling",
    "training",
)

# (query, family): one registered query per operator family. Together they
# build artifacts at set-up and hit them afterwards (minhash_signatures,
# training_corpus_stats), run Arrow kernels (knn_bruteforce), and none is in
# the registry's side-effect set. All 121 rows do not fit the run budget:
# on a 4-core VM one cold pass over them (the set-up) takes about 120 s.
QUERY_MIX = (
    ("q3_shipping_priority", "relational"),
    ("vocab_stats", "text"),
    ("minhash_signatures", "dedup"),
    ("knn_bruteforce", "ann"),
    ("events_session_30m", "events"),
    ("image_decode_stats", "multimodal"),
    ("orders_column_profile", "profiling"),
    ("training_corpus_stats", "training"),
)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def _mean(traces: list[OpTrace], fn) -> float:
    return statistics.fmean(fn(t) for t in traces) if traces else 0.0


def spark_layer(traces: list[OpTrace]) -> dict[str, float]:
    """Spark runtime counters, per traced op."""
    out = {}
    for key in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "failed_tasks",
    ):
        out[f"spark.{key}"] = _mean(traces, lambda t, k=key: t.counters.get(k, 0.0))
    out["spark.idle_s"] = _mean(traces, lambda t: (t.end - t.start) - t.busy_s())
    return out


class Workload:
    name = ""
    item = ""

    def __init__(self, run_dir: str, seed: int, tiny: bool) -> None:
        self.run_dir = run_dir
        self.seed = seed
        self.tiny = tiny
        self.in_bytes = 0
        self.out_bytes = 0

    def prepare(self) -> None:
        """Make the set-up's inputs."""

    def setup(self, spark) -> None:
        """Ready the session to serve: per-session state plus a fixed
        number of untimed warm-up ops, so the JIT has settled when timing
        starts."""
        raise NotImplementedError

    def at_boundary(self, i: int) -> bool:
        """Whether the timed loop may stop before op ``i``."""
        return True

    def traced(self, i: int) -> bool:
        """Traced runs interleave traced and untraced ops, so the run can
        state the tracing overhead against untraced ops of the same run."""
        return i % 2 == 0

    def next_input(self, i: int):
        return None

    def run_op(self, spark, i: int, inp, tracer) -> int:
        """The timed op. Returns the number of items it completed."""
        raise NotImplementedError

    def check(self, spark) -> set[int]:
        """Indices of timed ops whose output is wrong."""
        return set()

    def layers(self, traces: list[OpTrace]) -> dict[str, float]:
        return {}


class Ingest(Workload):
    """Kafka poll batches → ``decode_value`` → parity-named ORC files."""

    name = "ingest"
    item = "record"
    warmup_ops = 8
    flush_size = 10_000

    def prepare(self) -> None:
        self.batch_rows = 200 if self.tiny else 2000
        self.stream = gen.KafkaStream(
            self.seed, os.path.join(self.run_dir, "polls"), self.batch_rows,
            self.flush_size,
        )
        self.value_schema = gen.VALUE_SCHEMA
        self.done: list = []  # (op index, batch, out_dir, keys) of timed ops
        for w in range(self.warmup_ops):
            self.stream.batch(w)

    def _ingest(self, spark, batch: gen.PollBatch, out_dir: str, tracer=None):
        from kafka_connect_storage_cloud_formats_spark.pipeline import IngestPipeline
        from kafka_connect_storage_cloud_formats_spark.sources.kafka_envelope import (
            decode_value,
        )

        with span(tracer, "sources.decode"):
            polled = spark.read.schema(gen.KAFKA_DDL).parquet(batch.path)
            records = polled.select(
                "key", "topic", "partition", "offset",
                decode_value("value", self.value_schema).alias("v"),
            ).select("key", "topic", "partition", "offset", "v.*")
        with span(tracer, "pipeline.run_batch"):
            return IngestPipeline(
                out_dir, self.value_schema, flush_size=self.flush_size,
                parity_naming=True,
            ).run_batch(records)

    def setup(self, spark) -> None:
        self.out_root = os.path.join(self.run_dir, "out")
        for w in range(self.warmup_ops):
            self._ingest(spark, self.stream.batch(w), os.path.join(self.out_root, f"warm{w}"))

    def next_input(self, i: int):
        return self.stream.batch(self.warmup_ops + i)

    def run_op(self, spark, i: int, batch, tracer) -> int:
        out_dir = os.path.join(self.out_root, f"op{i:05d}")
        keys = self._ingest(spark, batch, out_dir, tracer)
        self.done.append((i, batch, out_dir, keys))
        return batch.rows

    def check(self, spark) -> set[int]:
        """Each op wrote exactly the files ``file_key_to_commit`` names for
        its (topic, partition, flush-range) starts, and reading them back
        gives the batch's row count and event_id checksums."""
        from kafka_connect_storage_cloud_formats_spark.sinks.orc_sink import (
            file_key_to_commit,
        )

        bad: set[int] = set()
        files = []
        for i, batch, out_dir, keys in self.done:
            want = sorted(
                file_key_to_commit("topics", t, t, p, s) for t, p, s in batch.starts
            )
            have = sorted(n for n in os.listdir(out_dir) if n.endswith(".orc"))
            if keys != want or have != want:
                bad.add(i)
            files += [os.path.join(out_dir, n) for n in have]
            self.in_bytes += batch.payload_bytes
            self.out_bytes += sum(os.path.getsize(os.path.join(out_dir, n)) for n in have)
        if not files:
            return bad
        op_of = {out_dir: i for i, _, out_dir, _ in self.done}
        rows = (
            spark.read.orc(files)
            .select(
                F.regexp_extract(F.input_file_name(), r"/(op\d+)/[^/]+$", 1).alias("op"),
                "event_id",
            )
            .groupBy("op")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("event_id").alias("s"),
                F.sum(F.col("event_id") * F.col("event_id") % 1000003).alias("q"),
            )
            .collect()
        )
        got = {
            op_of[os.path.join(self.out_root, r["op"])]: (r["n"], r["s"], r["q"])
            for r in rows
        }
        for i, batch, _, _ in self.done:
            if got.get(i) != (batch.rows, batch.event_id_sum, batch.event_id_sq_mod):
                bad.add(i)
        return bad

    def layers(self, traces: list[OpTrace]) -> dict[str, float]:
        def driver_s(t: OpTrace) -> float:
            spans = [(s, e) for n, s, e in t.spans if n == "pipeline.run_batch"]
            return sum(e - s - t.busy_s(s, e) for s, e in spans)

        c = lambda k: _mean(traces, lambda t: t.counters.get(k, 0.0))  # noqa: E731
        return {
            "sources.rows_in": c("scan_rows"),
            "sources.scan_decode_cpu_s": c("scan_cpu_s"),
            "pipeline.run_batch_s": _mean(traces, lambda t: t.span_s("pipeline.run_batch")),
            "pipeline.jobs": _mean(traces, lambda t: t.jobs_in("pipeline.run_batch")),
            "pipeline.driver_s": _mean(traces, driver_s),
            "sinks.files": c("write_files"),
            "sinks.bytes": c("write_bytes"),
            "sinks.task_commit_s": c("task_commit_s"),
            "sinks.job_commit_s": c("job_commit_s"),
        }


class Curation(Workload):
    """Document drops → ``StreamingCuration(fold_every=10).process_batch``."""

    name = "curation"
    item = "document"
    warmup_ops = 3
    fold_every = 10

    def prepare(self) -> None:
        self.drop_docs = 40 if self.tiny else 200
        self.stream = gen.DropStream(
            self.seed, os.path.join(self.run_dir, "drops"), self.drop_docs
        )
        self.done: list = []  # (op index, batch id, drop)
        self.fold_s: list[float] = []
        # Timed batch ids start just below a multiple of fold_every, so the
        # scheduled fold lands on the second timed op of every run rather
        # than only in runs long enough to reach it. Batch ids may skip:
        # the job keys its state by batch id and reads strictly earlier
        # batches as corpus.
        self.first_timed = -(-(self.warmup_ops + 1) // self.fold_every) * self.fold_every - 1
        for w in range(self.warmup_ops):
            self.stream.drop(w)

    def _fresh_job(self, spark):
        from kafka_connect_storage_cloud_formats_spark.streaming.curation import (
            StreamingCuration,
        )

        self.state_dir = os.path.join(self.run_dir, "state")
        cur = StreamingCuration(spark, self.state_dir, fold_every=self.fold_every)
        # A span around the engine's scheduled fold, which process_batch
        # runs itself on every fold_every-th batch.
        fold = cur.fold_state

        def timed_fold():
            t = time.perf_counter()
            try:
                return fold()
            finally:
                self.fold_s.append(time.perf_counter() - t)

        cur.fold_state = timed_fold
        return cur

    def _process(self, spark, batch_id: int, drop: gen.Drop, tracer=None) -> None:
        docs = spark.read.schema(gen.DOC_DDL).parquet(drop.path)
        with span(tracer, "streaming.process_batch"):
            self.cur.process_batch(docs, batch_id)

    def setup(self, spark) -> None:
        self.cur = self._fresh_job(spark)
        for w in range(self.warmup_ops):
            self._process(spark, w, self.stream.drop(w))
        self.fold_s.clear()
        self.state_before = dir_bytes(self.state_dir)

    def next_input(self, i: int):
        return self.stream.drop(self.warmup_ops + i)

    def run_op(self, spark, i: int, drop, tracer) -> int:
        batch_id = self.first_timed + i
        self._process(spark, batch_id, drop, tracer)
        self.done.append((i, batch_id, drop))
        return drop.docs

    def check(self, spark) -> set[int]:
        """Each drop's report sums to the drop size, and its exact-duplicate
        counts equal the generator's planted counts."""
        stages = ["n_exact_corpus", "n_exact_within", "n_neardup_corpus",
                  "n_neardup_within", "n_kept"]
        rows = (
            self.cur.report()
            .groupBy("batch_id")
            .agg(*[F.sum(c).alias(c) for c in ["n_batch"] + stages])
            .collect()
        )
        got = {r["batch_id"]: r for r in rows}
        bad: set[int] = set()
        for i, batch_id, drop in self.done:
            r = got.get(batch_id)
            if (
                r is None
                or r["n_batch"] != drop.docs
                or sum(r[c] for c in stages) != drop.docs
                or r["n_exact_within"] != drop.exact_within
                or r["n_exact_corpus"] != drop.exact_corpus
            ):
                bad.add(i)
            self.in_bytes += drop.text_bytes
        self.out_bytes = max(0, dir_bytes(self.state_dir) - self.state_before)
        return bad

    def layers(self, traces: list[OpTrace]) -> dict[str, float]:
        return {
            "streaming.process_batch_s": _mean(
                traces, lambda t: t.span_s("streaming.process_batch")
            ),
            "streaming.jobs": _mean(traces, lambda t: t.jobs_in("streaming.process_batch")),
            "streaming.fold_s": sum(self.fold_s) / max(1, len(self.done)),
            "streaming.state_bytes": float(dir_bytes(self.state_dir)),
        }


class QueryMix(Workload):
    """Prepared-plan queries from ``__spark_entry__.queries()`` + ``count()``."""

    name = "query_mix"
    item = "query"

    def prepare(self) -> None:
        self.sf_dir = CORPUS
        self.names = [q for q, _ in QUERY_MIX]
        self.family = dict(QUERY_MIX)
        self.order: list[str] = []
        self.done: list = []  # (op index, query, rows, plan-build seconds)
        self.hits = 0
        self.built_setup = 0

    def _artifacts(self) -> list[str]:
        root = os.environ["SPARK_GRAFT_ARTIFACT_ROOT"]
        return [n for n in os.listdir(root) if n.startswith("engine_")]

    def setup(self, spark) -> None:
        """Two warm passes: the first builds every plan and every artifact,
        the second lets the JIT settle."""
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.warm: dict[str, tuple] = {}
        for name in self.names:
            df = self.queries[name](spark, self.sf_dir)
            self.warm[name] = (df, df.count())
        self.built_setup = len(self._artifacts())
        for name in self.names:
            self.queries[name](spark, self.sf_dir).count()

    def at_boundary(self, i: int) -> bool:
        return i % len(self.names) == 0

    def traced(self, i: int) -> bool:
        return (i // len(self.names)) % 2 == 0  # whole passes alternate

    def next_input(self, i: int):
        n = len(self.names)
        if i % n == 0:
            rng = gen.rng_for(self.seed, f"pass{i // n}")
            self.order = [self.names[j] for j in rng.permutation(n)]
        return self.order[i % n]

    def run_op(self, spark, i: int, name, tracer) -> int:
        t0 = time.perf_counter()
        with span(tracer, "queries.build"):
            df = self.queries[name](spark, self.sf_dir)
        build_s = time.perf_counter() - t0
        with span(tracer, f"operators.{self.family[name]}"):
            rows = df.count()
        self.hits += df is self.warm[name][0]
        self.done.append((i, name, rows, build_s))
        return 1

    def check(self, spark) -> set[int]:
        """Every query's row count equals its count in the warm pass."""
        return {i for i, name, rows, _ in self.done if rows != self.warm[name][1]}

    def layers(self, traces: list[OpTrace]) -> dict[str, float]:
        by_family: dict[str, list[OpTrace]] = {f: [] for f in FAMILIES}
        for t in traces:
            for n, _, _ in t.spans:
                if n.startswith("operators."):
                    by_family[n.split(".", 1)[1]].append(t)
        out = {
            "queries.build_s": statistics.fmean(b for *_, b in self.done) if self.done else 0.0,
            "queries.plan_cache_hit_ratio": self.hits / max(1, len(self.done)),
            "artifacts.built_setup": float(self.built_setup),
            "artifacts.bytes": float(dir_bytes(os.environ["SPARK_GRAFT_ARTIFACT_ROOT"])),
            "artifacts.built_timed": float(len(self._artifacts()) - self.built_setup),
            "functions.python_s": _mean(traces, lambda t: t.counters.get("python_s", 0.0)),
            "functions.arrow_bytes": _mean(traces, lambda t: t.counters.get("arrow_bytes", 0.0)),
        }
        for f in FAMILIES:
            ts = by_family[f]
            out[f"operators.{f}.exec_s"] = _mean(ts, lambda t, f=f: t.span_s(f"operators.{f}"))
            out[f"operators.{f}.jobs"] = _mean(ts, lambda t, f=f: t.jobs_in(f"operators.{f}"))
        return out


WORKLOADS = {w.name: w for w in (Ingest, Curation, QueryMix)}


def span(tracer, name: str):
    """The tracer's span around a call into a layer; nothing when untraced."""
    return tracer.span(name) if tracer is not None else nullcontext()
