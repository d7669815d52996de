"""Central query registry: name → (spark_fn, oracle_sql | None).

This is the engine's declared operator surface (driver contract + SURVEY.md
§2 checklist). ``oracle_sql=None`` marks genuinely non-SQL-expressible
operators (driver records a rows-only check).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

from kafka_connect_storage_cloud_formats_spark.catalog import (
    canon_path,
    is_remote,
    path_fingerprint,
)

from kafka_connect_storage_cloud_formats_spark.queries.pipeline_queries import (
    AVRO_ROUNDTRIP_SQL,
    JSON_ROUNDTRIP_SQL,
    ORC_PARTITIONED_SQL,
    ORC_ROUNDTRIP_SQL,
    PARQUET_ROUNDTRIP_SQL,
    CSV_ROUNDTRIP_SQL,
    SCHEMA_EVOLUTION_SQL,
    avro_roundtrip,
    csv_roundtrip,
    json_roundtrip,
    orc_ingest_roundtrip,
    orc_partitioned_roundtrip,
    parquet_roundtrip,
    schema_evolution_roundtrip,
)
from kafka_connect_storage_cloud_formats_spark.operators.asof import ASOF_QUERIES
from kafka_connect_storage_cloud_formats_spark.operators.scale_utils import SCALE_UTILS_QUERIES
from kafka_connect_storage_cloud_formats_spark.operators.compaction import COMPACTION_QUERIES
from kafka_connect_storage_cloud_formats_spark.operators.dedup import DEDUP_QUERIES
from kafka_connect_storage_cloud_formats_spark.operators.multimodal import MULTIMODAL_QUERIES
from kafka_connect_storage_cloud_formats_spark.operators.kmeans_ivf import KMEANS_IVF_QUERIES
from kafka_connect_storage_cloud_formats_spark.operators.pq import PQ_QUERIES
from kafka_connect_storage_cloud_formats_spark.operators.profiling import PROFILING_QUERIES
from kafka_connect_storage_cloud_formats_spark.operators.similarity import SIMILARITY_QUERIES
from kafka_connect_storage_cloud_formats_spark.operators.training_pipeline import TRAINING_PIPELINE_QUERIES
from kafka_connect_storage_cloud_formats_spark.operators.text import TEXT_QUERIES
from kafka_connect_storage_cloud_formats_spark.queries.relational import RELATIONAL_QUERIES
from kafka_connect_storage_cloud_formats_spark.queries.window import registry_order
from kafka_connect_storage_cloud_formats_spark.streaming.windows import STREAMING_WINDOW_QUERIES

_ALL: dict = {
    # --- reference pipeline semantics (SURVEY.md §2.1), oracle-gated
    "orc_ingest_roundtrip": (orc_ingest_roundtrip, ORC_ROUNDTRIP_SQL),
    "orc_partitioned_roundtrip": (orc_partitioned_roundtrip, ORC_PARTITIONED_SQL),
    "parquet_roundtrip": (parquet_roundtrip, PARQUET_ROUNDTRIP_SQL),
    "json_roundtrip": (json_roundtrip, JSON_ROUNDTRIP_SQL),
    # real Avro binary on both paths (JVM to_avro/from_avro when the jar is
    # loaded, else the engine's spec-compliant codec) — oracle-gated
    "avro_roundtrip": (avro_roundtrip, AVRO_ROUNDTRIP_SQL),
    "schema_evolution_roundtrip": (schema_evolution_roundtrip, SCHEMA_EVOLUTION_SQL),
    "csv_roundtrip": (csv_roundtrip, CSV_ROUNDTRIP_SQL),
}
_ALL.update(RELATIONAL_QUERIES)
_ALL.update(TEXT_QUERIES)
_ALL.update(DEDUP_QUERIES)
_ALL.update(SIMILARITY_QUERIES)
# The label-quantizer ivf_* rows above are the untrained baseline; the
# ivf_kmeans_* family is the serving default (~2× recall, SCALE.md).
_ALL.update(KMEANS_IVF_QUERIES)
_ALL.update(PQ_QUERIES)
_ALL.update(MULTIMODAL_QUERIES)
_ALL.update(STREAMING_WINDOW_QUERIES)
_ALL.update(PROFILING_QUERIES)
_ALL.update(COMPACTION_QUERIES)
_ALL.update(TRAINING_PIPELINE_QUERIES)
_ALL.update(ASOF_QUERIES)
_ALL.update(SCALE_UTILS_QUERIES)

# --- prepared-plan cache -----------------------------------------------
# DataFrames are immutable logical plans, so a registered query's built
# plan is handed back to every caller, as catalog.load_table does per
# table: the driver work of a build (py4j round trips, artifact-memo
# checks, driver collects of bounded query matrices) is paid once per
# (session, corpus). Catalyst still plans the physical execution per
# action, so AQE is untouched. Safety rails, mirroring catalog._TABLE_CACHE:
# - keyed by applicationId (no plans bound to a dead JVM) and the
#   realpath'd corpus identity;
# - revalidated per call by the stat-only corpus fingerprint, so a corpus
#   regenerated at the same path rebuilds the plan;
# - a hit needs a UTC session; any other zone falls through to the
#   builder, whose own guards raise;
# - queries with per-call side effects (_SIDE_EFFECT_QUERIES) are never
#   memoized; content-keyed artifact builds (ensure_*) are not per-call
#   effects, so their consumers are cached;
# - each entry records the artifact paths its build consumed, and every
#   hit re-runs the throttled generation check on them
#   (artifacts.revalidate_artifact), which also refreshes their liveness
#   touch for the sweep. A changed or vanished generation clears this
#   cache through the invalidation listeners and the call rebuilds; before
#   detection an action fails loudly with FileNotFound, never stale.
# key → (corpus fingerprint, built plan, artifact paths the build consumed)
_PLAN_CACHE: dict[tuple[str, str, str], tuple[str, DataFrame, frozenset]] = {}
# Serializes the dead-app eviction and clear() against concurrent inserts;
# keyed reads stay lock-free (a stale hit re-validates).
import threading as _threading

_PLAN_CACHE_LOCK = _threading.Lock()


def _on_artifact_invalidated(_path: str) -> None:
    """Artifact-layer self-heal reaches the plan cache too: a cached
    registry plan may EMBED the invalidated artifact's file index (the
    registry doesn't know which queries consume which artifacts, so the
    whole cache clears — the event is an external delete+rebuild, rare
    enough that over-invalidation is the right trade; the next call per
    query is one rebuild)."""
    with _PLAN_CACHE_LOCK:
        _PLAN_CACHE.clear()


def _register_invalidation_hook() -> None:
    from kafka_connect_storage_cloud_formats_spark.artifacts import (
        register_invalidation_listener,
    )

    register_invalidation_listener(_on_artifact_invalidated)


_register_invalidation_hook()

_SIDE_EFFECT_QUERIES = frozenset(
    {
        "orc_ingest_roundtrip",
        "orc_partitioned_roundtrip",
        "parquet_roundtrip",
        "json_roundtrip",
        "csv_roundtrip",
        "schema_evolution_roundtrip",
        # Not side-effecting, but these rows exist to measure a live
        # build (index builds, the neardup edge-collect + union-find, the
        # incremental accept/upsert steps); a memoized plan would skip
        # exactly that work. Their consumer rows are cached.
        "ivf_index_build",
        "neardup_clusters",
        "ivf_kmeans_index_build",
        "corpus_hash_merge",
        "corpus_signature_merge",
        "corpus_fingerprint_merge",
        "ivf_kmeans_index_upsert",
    }
)


def _prepared(name: str, fn):
    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            utc = spark.conf.get("spark.sql.session.timeZone") == "UTC"
        except Exception:
            utc = False
        if not utc:
            # timezone-sensitive casts read the zone at execution time; the
            # builder's own guards (catalog._require_utc) decide
            return fn(spark, sf_dir)
        canon = canon_path(sf_dir)
        ident = canon if is_remote(canon) else os.path.realpath(canon)
        key = (spark.sparkContext.applicationId, name, ident)
        # The whole-corpus stat fingerprint re-runs per call: freshness
        # over listing cost (an object-store deployment that cannot afford
        # a recursive LIST per query should front this with its own signal).
        fp = path_fingerprint(sf_dir, spark)
        hit = _PLAN_CACHE.get(key)
        # newSession() clones share the applicationId and so this cache,
        # as with catalog._TABLE_CACHE: registered queries read no temp
        # views, and the one execution-time-sensitive conf (timezone) is
        # checked above against the caller's session. Clones with other
        # divergent SQL confs are outside the contract (apply_session_confs).
        if hit is not None and hit[0] == fp:
            from kafka_connect_storage_cloud_formats_spark.artifacts import (
                revalidate_artifact,
            )

            # Re-check ALL embedded artifacts even after a failure (each
            # check is also a liveness touch); a failed check clears this
            # cache through the listeners, so re-read instead of trusting `hit`.
            live = all([revalidate_artifact(p, spark) for p in hit[2]])
            hit = _PLAN_CACHE.get(key)
            if live and hit is not None and hit[0] == fp:
                return hit[1]
        from kafka_connect_storage_cloud_formats_spark.artifacts import (
            record_consumed_artifacts,
        )

        with record_consumed_artifacts() as consumed:
            df = fn(spark, sf_dir)
        # evict entries of dead applicationIds (same rule as the table
        # cache): they can never be served again, but left in place they
        # pin py4j handles bound to stopped JVMs for the process lifetime
        app = key[0]
        with _PLAN_CACHE_LOCK:
            for k in [k for k in _PLAN_CACHE if k[0] != app]:
                del _PLAN_CACHE[k]
            _PLAN_CACHE[key] = (fp, df, frozenset(consumed))
        return df

    return wrapped


_ALL = {
    name: (fn if name in _SIDE_EFFECT_QUERIES else _prepared(name, fn), sql)
    for name, (fn, sql) in _ALL.items()
}

# The driver's correctness gate checks the first 50 entries each round;
# window.registry_order puts the queries that most need a fresh row first.
QUERIES: dict = {n: _ALL[n] for n in registry_order(_ALL)}
