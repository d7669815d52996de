"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]`` but every config here is chosen so the same
code runs unchanged on a 1000-executor cluster: AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for the Python boundary, UTC so
results are timezone-stable against any oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Sized for local[32] with 128 GiB; on a real cluster these come from
# spark-submit / cluster conf instead and the builder only sets SQL behavior.
_SQL_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.orc.filterPushdown": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # ~128 MB input splits: the right granularity for TB-scale scans; harmless locally.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # The driver's events.parquet carries TIMESTAMP(NANOS) which Spark's
    # reader rejects; read as long and convert in the catalog (lossless:
    # the data is µs-aligned).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Let AQE re-plan (coalesce/skew-split) shuffles UNDER cached plans
    # too: with the default (false), any subtree materialized by
    # .persist() freezes its exchanges at the static shuffle-partition
    # count — the scoped per-invocation persists in the ingest pipeline
    # would otherwise run 32-task stages over kilobyte batches locally
    # and, worse, a FIXED fan-out at any scale (r15 optimization, guide
    # §2.5: partitioning must stay scale-adaptive). Output partitioning
    # of a cache is not part of any declared result contract.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


# Parent directory of the installed package — what executor Python workers
# must have on their import path to unpickle the engine's Pandas UDFs.
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_worker_import_path() -> None:
    """Export the package parent on ``PYTHONPATH`` BEFORE the JVM starts.

    The driver process typically imports the engine via ``sys.path`` (repo
    CWD or an explicit insert) — but ``sys.path`` is process state, not
    environment, so the Python workers the local-mode JVM forks don't
    inherit it: any Pandas-UDF query run from a foreign CWD dies with
    ``ModuleNotFoundError`` in the worker (measured — see SCALE.md,
    local-vs-cluster notes). Exporting ``PYTHONPATH`` here reaches those
    workers because the JVM inherits the driver's environment and hands it
    to the workers it spawns. Local/driver-side only by construction: on a
    real cluster, executors are separate machines — ship the package the
    standard way (``--py-files``, ``spark.submit.pyFiles``, or an image
    install). No-op when already importable that way."""
    cur = os.environ.get("PYTHONPATH", "")
    parts = cur.split(os.pathsep) if cur else []
    if _PKG_PARENT not in parts:
        os.environ["PYTHONPATH"] = (
            os.pathsep.join([_PKG_PARENT] + parts) if parts else _PKG_PARENT
        )


def _default_driver_memory(phys_bytes: int) -> str:
    """The driver heap when ``SPARK_DRIVER_MEMORY`` is unset: half of the
    host's physical memory, capped at 48g. A fixed 48g let a local driver
    JVM grow until a 16 GB host's kernel killed it mid-run."""
    return f"{min(phys_bytes // 2 // 2**20, 48 * 1024)}m"


def get_spark(app_name: str = "kafka_connect_storage_cloud_formats_spark") -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (driver contract) and
    ``SPARK_GRAFT_MASTER`` for the master URL itself. The latter exists so
    the full oracle gate can run under ``local-cluster[n,c,mem_mb]`` —
    Spark's multi-process standalone mode, where executors are SEPARATE
    JVMs that fork their own Python workers — turning "the engine assumes
    nothing driver-local at execution time" from an argument into a
    measured result (SCALE.md records the runs). On a real deployment the
    master comes from spark-submit and this is never set.
    """
    _ensure_worker_import_path()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or _default_driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        # bucketed tables (operators/scale_utils.py) need a warehouse; keep
        # it out of the repo/cwd
        .config("spark.sql.warehouse.dir", "/tmp/engine_warehouse")
        # Long sessions accumulate shuffle files; the default BLOCKING cleaner
        # stalls job scheduling for tens of seconds when a GC batch-releases
        # them. Clean asynchronously instead.
        .config("spark.cleaner.referenceTracking.blocking", "false")
        .config("spark.cleaner.referenceTracking.blocking.shuffle", "false")
    )
    if master.startswith("local-cluster["):
        # local-cluster ONLY (not any non-local master): its executors are
        # separate JVMs on THIS machine whose Python workers do not inherit
        # the driver's sys.path, so the driver's PYTHONPATH is the correct
        # import path to ship. On a real standalone/yarn cluster the driver
        # machine's PYTHONPATH is meaningless to remote executors — there
        # the package ships via --py-files / image install, and a default
        # here would override any deployment-provided
        # spark.executorEnv.PYTHONPATH from spark-defaults.conf.
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", os.environ.get("PYTHONPATH", _PKG_PARENT)
        )
        # The 1500m default is sized for local-cluster's per-worker memory
        # cap ONLY — on a real standalone/yarn master, executor sizing
        # belongs to deployment config, and a hardcoded small default
        # would silently undersize every executor.
        builder = builder.config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXECUTOR_MEMORY", "1500m"),
        )
    for k, v in _SQL_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_session_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's SQL confs to an externally-created session.

    The driver hands us its own SparkSession for ``entry()``/``queries()``;
    runtime-settable SQL confs are applied so plans behave the same.
    """
    for k, v in _SQL_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static confs (e.g. driver memory) can't change post-start
    return spark
