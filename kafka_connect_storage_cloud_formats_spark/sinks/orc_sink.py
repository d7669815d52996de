"""The reference-parity ORC sink.

The reference writes one ORC file per (topic, partition, offset-range):
deterministic name ``{topics}_{dir}_{topic}_{partition}_{offset:010d}.orc``
(test-framework ``FileUtils.java:17-26``), a new file every ``flush.size``
records (observed offsets {0,3,6} for 7 records at flush.size=3,
``DataWriterOrcTest.java:92``), and exactly-once via unconditional overwrite
of the deterministic name (``OrcRecordWriter.java:91``, recovery scenario
``DataWriterOrcTest.java:102-124``).

``write_orc_parity`` reproduces that naming and rotation: records grouped by
``(topic, partition, floor(offset / flush_size))``, one ORC file per group
with the offset-zero-padded name, written via deterministic overwrite so
re-processing is idempotent. It is a *distributed* grouped write (one Spark
write task per file group via ``partitionBy`` on a computed file-group
column, then a driver-side rename pass over the manifest — O(#files), no
data through the driver). The Spark-native layout (Hive-style
``partition=N/`` dirs, ``maxRecordsPerFile``) is written through
``sinks/formats.py`` by ``IngestPipeline``.

The hard cap of 11,000 rows/file in the reference (single VectorizedRowBatch,
``OrcRecordWriter.java:100``, flush disabled at 77-79) is a historical
constant, deliberately NOT reproduced — ``flush_size`` may be any size.
"""

from __future__ import annotations

import os
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_storage_cloud_formats_spark.fsio import _fs_for
from kafka_connect_storage_cloud_formats_spark.fsio import glob_escape as _glob_escape
from kafka_connect_storage_cloud_formats_spark.schema import quote_ident

# Reference test-framework delimiters (FileUtils.java:7-8); '#' in filenames is
# sanitized to '_' by the writer (OrcRecordWriter.java:50) so the effective
# on-storage delimiter is '_' everywhere (SURVEY.md §2.2.5).
DIRECTORY_DELIM = "_"
ZERO_PAD_FORMAT = "%010d"
EXTENSION = ".orc"


def file_key_to_commit(
    topics_prefix: str, dir_prefix: str, topic: str, partition: int, start_offset: int
) -> str:
    """Reference file-key scheme (``FileUtils.java:17-26`` + '#'→'_' sanitation
    ``OrcRecordWriter.java:50``)."""
    name = (
        f"{topic}{DIRECTORY_DELIM}{partition}{DIRECTORY_DELIM}"
        f"{ZERO_PAD_FORMAT % start_offset}{EXTENSION}"
    )
    key = f"{topics_prefix}{DIRECTORY_DELIM}{dir_prefix}{DIRECTORY_DELIM}{name}"
    return key.replace("#", "_")


def write_orc_parity(
    df: DataFrame,
    out_dir: str,
    flush_size: int,
    value_cols: list[str],
) -> list[str]:
    """Reference-parity sink. Returns the sorted list of written file keys.

    Semantics reproduced (SURVEY.md §2.1 #12-15):
    - one file per (topic, partition, offset-range of ``flush_size``);
    - file named ``topics_{topic}_{topic}_{partition}_{start_offset:010d}.orc``;
    - deterministic overwrite → idempotent re-processing (recovery test
      ``DataWriterOrcTest.java:102-124``);
    - only ``value_cols`` land in the file, in that order (the Kafka key is
      dropped, SURVEY.md §1.3); the envelope's ``topic``, ``partition``
      and ``offset`` columns drive placement only.

    Distributed strategy: one shuffle by the file group (topic, partition,
    start_offset = floor(offset/flush_size)·flush_size) so each group is
    written by one task as one offset-sorted file under ``partitionBy``,
    then a driver-side metadata-only rename of each group's part file to
    the reference key. The group is staged as ONE partition column,
    ``__group=<partition>_<start_offset>_<topic>``: one staging directory
    per file (without libhadoop, Hadoop's local filesystem forks a
    ``chmod`` for every directory it makes). The topic goes last, so
    ``split("_", 2)`` recovers it whatever it holds.
    """
    staged = os.path.join(out_dir, "_staged")
    out = (
        df.selectExpr(
            "concat_ws('_', `partition`, "
            f"CAST(FLOOR(`offset` / {flush_size}) * {flush_size} AS BIGINT), "
            "`topic`) AS __group",
            "`offset` AS __offset",
            *map(quote_ident, value_cols),
        )
        # one shuffle, keyed by file group → each output file written by one task
        .repartition(F.col("__group"))
        # Sort by OFFSET within each group — the reference appends records
        # in Kafka offset order, so file content order is part of the parity
        # contract (sorting by __group alone is a no-op inside a group
        # and leaves rows in nondeterministic shuffle-arrival order). The
        # projection dropping __offset afterwards preserves row order; only
        # the value columns land in the file.
        .sortWithinPartitions("__group", "__offset")
        .drop("__offset")
    )
    # Planned write (V1Writes) stacks its own Sort(partition cols) on the
    # plan and EliminateSorts then removes the finer (group, offset) sort
    # above — silently un-ordering the file content. With it disabled, the
    # writer checks the PHYSICAL child ordering, sees the partition-column
    # prefix satisfied, and preserves our row order.
    #
    # SINGLE-WRITER ASSUMPTION: session confs can't be scoped per-action,
    # so this toggle is visible session-wide between set and restore. A
    # concurrent write in the same SparkSession (e.g. a parallel streaming
    # query) could observe the flipped value or clobber the restore. The
    # engine's parity sink is invoked from single-writer batch paths only;
    # a multi-writer deployment would serialize writes through this sink
    # or isolate them in cloned sessions (spark.newSession()).
    spark_ = df.sparkSession
    planned = spark_.conf.get("spark.sql.optimizer.plannedWrite.enabled", "true")
    spark_.conf.set("spark.sql.optimizer.plannedWrite.enabled", "false")
    try:
        # no _SUCCESS marker: the staged dir is deleted after the renames
        (
            out.write.mode("overwrite")
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            .partitionBy("__group")
            .orc(staged)
        )
    finally:
        spark_.conf.set("spark.sql.optimizer.plannedWrite.enabled", planned)

    # Metadata-only finalize through the Hadoop FileSystem API: ONE glob
    # over the staged layout (a single gateway call; Hadoop's Globber still
    # lists level by level), then one rename per output file, so the same
    # O(#files) pass works on file://, hdfs:// and s3a:// (where a rename
    # is a HEAD+COPY+DELETE, no row data). The staged PREFIX is
    # glob-escaped: an out_dir like ".../run[A]/out" must not be read as a
    # pattern, which would match nothing and skip every rename.
    fs = _fs_for(staged, spark_)
    parts = fs.glob_paths(_glob_escape(staged) + "/__group=*/part-*" + EXTENSION)
    if parts is None:
        raise RuntimeError(f"parity finalize could not list {staged}") from fs.last_error
    groups: dict[tuple[str, int, int], list[str]] = {}
    for part in parts:
        # partition dirs carry Spark's escapePathName encoding (%XX for
        # '#', ':', '%', ...): a topic 'a#b' is staged as __group=0_0_a%23b
        group_dir = part.rsplit("/", 2)[1]
        partition, start_offset, topic = unquote(group_dir.split("=", 1)[1]).split("_", 2)
        groups.setdefault((topic, int(partition), int(start_offset)), []).append(part)

    # An empty match against a staged dir that DOES hold group dirs means
    # the pattern failed, not that there is no data: the staged-dir delete
    # below would otherwise destroy the write. Checked by a plain listing,
    # not a second glob.
    if not groups:
        leftovers = [
            rel for rel, _, _ in fs.list_files_recursive(staged) if rel.startswith("__group=")
        ]
        if leftovers:
            raise RuntimeError(
                f"parity finalize glob matched nothing but staged group dirs "
                f"exist ({leftovers[:3]}...): refusing to delete staged data"
            )

    written: list[str] = []
    made_parents: set[str] = set()
    for (topic, partition, start_offset), group in sorted(groups.items()):
        key = file_key_to_commit("topics", topic, topic, partition, start_offset)
        if len(group) != 1:  # merge would break one-file parity; fail loudly
            raise RuntimeError(
                f"file group {key} produced {len(group)} part files; expected 1"
            )
        dest = out_dir + "/" + key
        parent = dest.rsplit("/", 1)[0]
        if parent not in made_parents:
            fs.mkdirs(parent)
            made_parents.add(parent)
        if fs.exists(dest):
            fs.delete(dest, recursive=False)  # unconditional overwrite (OrcRecordWriter.java:91)
        if not fs.rename(group[0], dest):
            raise RuntimeError(f"rename failed for {key}") from fs.last_error
        written.append(key)
    fs.delete(staged)
    return sorted(written)

