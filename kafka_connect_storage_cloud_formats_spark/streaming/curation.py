"""Streaming curation: each micro-batch of crawled documents IS a drop.

The Structured-Streaming form of the recurring curation pipeline the batch
operators implement (operators/dedup.py). A micro-batch builds its
per-document table (doc_id, lang, content_hash, mh_00…mh_11[, embedding])
in one map-only pass and classifies it by the chained exact → near-dup
rule against the job's OWN corpus state, the kept rows of every earlier
micro-batch, adding the decision as a ``stage`` column. With the ANN stage
on, the kept rows also get their published-quantizer cell (``label``) and
PQ codes (``codes``). The rule is the batch operators' own: ``_doc_keys``
gives each document its candidate keys (the exact key and the MinHash
bands), ``_judge`` joins them to the corpus's once, and ``_staged`` adds
the within-batch tiers. The signatures use the batch tiers' MinHash
layout (``_with_minhash_array``), so the stream cannot drift from the
oracle-gated batch tiers.

State: the classified table IS the state. A micro-batch commits it once,
as ``batches/b{batch_id:010d}``: one parquet file sorted by ``doc_id``
with columns (batch_id, doc_id, lang, content_hash, mh_00…mh_11, stage
[, embedding, label, codes]); a dropped row keeps only batch_id, doc_id,
lang and stage, the rest NULL. Every reader is a column-pruned projection
of that one kind — the report a ``groupBy(batch_id, lang)``, the accepted
hashes, signatures and serving segments its kept rows.

Exactly-once: ``foreachBatch`` is at-least-once under retry, so the commit
is a DETERMINISTIC OVERWRITE keyed by ``batch_id``, rewritten
byte-identically on a replay (the sort fixes the row order the shuffles
leave open). A replayed batch must also classify against exactly the state
its first run saw, so the corpus view inside ``process_batch`` reads only
partitions with id < batch_id, never the batch's own earlier commit.
Retries, out-of-order replays and full re-runs over the same checkpoint
are all no-ops (pinned in tests/test_streaming_curation.py).

At scale this is the shape of a continuous ingestion pipeline: state is
~(50 + 100) B per accepted document of hash + signature columns (never
document text; the dropped rows stay, since the report counts them), and
each micro-batch pays batch-sized hashing plus one banded equi-join
against the kept rows of that state.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_storage_cloud_formats_spark.fsio import _fs_for, glob_escape
from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
    CURATION_STAGES,
    _MH_COLS,
    _doc_keys,
    _judge,
    _staged,
    _with_minhash_array,
)


# The committed table's schema. The ANN columns are always declared, so
# partitions committed without the ANN stage read them as NULL.
_TABLE_SCHEMA = (
    "batch_id long, doc_id long, lang string, content_hash binary, "
    + "".join(f"{c} string, " for c in _MH_COLS)
    + "stage string, embedding array<float>, label long, codes array<long>"
)


# report contract: batch id + lang + total + one count per chain stage
# (the stage names ARE operators.dedup.CURATION_STAGES — one definition)
REPORT_COLUMNS = ("batch_id", "lang", "n_batch") + tuple(
    f"n_{s}" for s in CURATION_STAGES
)

# The one state kind, and the directories every earlier layout sits under,
# which a state dir must not hold (see StreamingCuration).
_KIND = "batches"
_OLD_LAYOUT_DIRS = ("md5", "xxhash64")

# State partition names: exactly a prefix letter + 10 digits. ``b`` = one
# micro-batch's deterministic-overwrite commit (id = batch_id); ``f`` = a
# FOLD generation covering every batch id ≤ its id (fold_state below).
# Entries of any other shape under the state dir (a manual backup, a
# foreign leftover) are not state.
_PART_RE = re.compile(r"^([bf])(\d{10})$")


class StreamingCuration:
    """The ``foreachBatch`` callback object; pass ``process_batch`` to
    ``foreachBatch``. ``state_dir`` holds the committed tables.

    The state is ``state_dir/batches/``. A state dir holding an earlier
    layout (under ``md5/`` or ``xxhash64/``) is refused with a
    ``ValueError``: read as ``batches/`` it would be an empty corpus, and
    the job would re-accept every duplicate. Long-running jobs fold their
    many small per-batch partitions into one generation on the
    re-index/merge schedule via :meth:`fold_state`."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        fold_every: int | None = None,
        ann_sf_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        old = _fs_for(state_dir, spark).glob_paths(
            f"{glob_escape(state_dir)}/{{{','.join(_OLD_LAYOUT_DIRS)}}}"
        )
        if old:
            raise ValueError(
                f"curation state dir {state_dir} holds an earlier layout "
                f"({', '.join(sorted(os.path.basename(p) for p in old))}), "
                f"which this job cannot read; use a new state dir"
            )
        # ``ann_sf_dir`` enables the per-drop ANN SEGMENT stage: batches
        # must then carry an ``embedding`` column, and each micro-batch's
        # KEPT docs are assigned against the published corpus-split
        # quantizer and PQ codebooks of this corpus (no retrain).
        # Replay-deterministic like the rest of the commit: the quantizer
        # is a published content-keyed artifact and the kept set is a pure
        # function of strictly-earlier state.
        self.ann_sf_dir = ann_sf_dir
        # ``fold_every=N`` runs :meth:`fold_state` at the top of every
        # N-th batch, so a continuous deployment never accumulates
        # unbounded per-batch partitions. Retry-safe: a fold's CONTENT is
        # a pure function of its id (state ≤ id), so the fold a replayed
        # batch triggers — even one covering a later id than the first
        # attempt's — serves every ``before`` view identically.
        self.fold_every = fold_every

    # ---- state access ----------------------------------------------------
    def _list_parts(self) -> list[tuple[str, int, str]]:
        """All COMMITTED state partitions as sorted (prefix, id, path)
        triples — ``b`` per-batch commits and ``f`` fold generations —
        from one ``batches/*/_SUCCESS`` listing. Committed ⇔ ``_SUCCESS``
        present: Spark writes the marker LAST and a replay's overwrite
        deletes it FIRST, so a partition caught mid-rewrite counts as
        uncommitted. Entries not matching the exact letter+10-digits shape
        are ignored. A failed LISTING raises — absence-as-empty is only
        safe when the listing itself succeeded."""
        root = os.path.join(self.state_dir, _KIND)
        fs = _fs_for(root, self.spark)
        paths = fs.glob_paths(os.path.join(glob_escape(root), "*", "_SUCCESS"))
        if paths is None:
            raise RuntimeError(
                f"curation state listing failed under {root}"
            ) from fs.last_error
        out = [
            (m.group(1), int(m.group(2)), os.path.join(root, name))
            for name in (p.rsplit("/", 2)[-2] for p in paths)
            if (m := _PART_RE.match(name)) is not None
        ]
        return sorted(out, key=lambda t: (t[1], t[0]))

    def _state_parts(self, before: int | None = None) -> list[str]:
        """EFFECTIVE state partition paths, optionally restricted to batch
        ids < ``before`` (the corpus view a replaying batch must see).
        Fold-aware: the newest eligible fold (id < before) covers every
        batch id ≤ its own, so the view is that fold plus the per-batch
        partitions ABOVE it — partitions at ids a newer fold covers are
        ignored even when still present, which is what makes the fold's
        write-then-cleanup crash-safe (a committed fold whose covered
        ``b`` partitions are not yet deleted never double-counts). Replay
        coverage is guaranteed by :meth:`fold_state`'s invariant — folds
        never include the newest committed batch, the only one the
        checkpoint can replay."""
        parts = self._list_parts()
        fold_ids = [i for p, i, _ in parts if p == "f" and (before is None or i < before)]
        floor = max(fold_ids) if fold_ids else -1
        return [
            path
            for prefix, i, path in parts
            if (
                (prefix == "f" and i == floor)
                or (prefix == "b" and i > floor and (before is None or i < before))
            )
        ]

    def _table(self, before: int | None = None) -> DataFrame:
        """The committed rows of every effective partition (batch ids <
        ``before`` when given), read with the declared schema; an empty
        typed frame when none are committed."""
        parts = self._state_parts(before)
        if not parts:
            return self.spark.createDataFrame([], _TABLE_SCHEMA)
        return self.spark.read.schema(_TABLE_SCHEMA).parquet(*map(glob_escape, parts))

    def _kept(self, before: int | None = None) -> DataFrame:
        return self._table(before).filter("stage = 'kept'")

    def accepted_hashes(self) -> DataFrame:
        """(doc_id, lang, content_hash) of every accepted doc."""
        return self._kept().select("doc_id", "lang", "content_hash")

    def accepted_sigs(self) -> DataFrame:
        """(doc_id, mh_00…mh_11) of every accepted doc with a signature."""
        return self._kept().filter(F.col("mh_00").isNotNull()).select(
            "doc_id", *_MH_COLS
        )

    def report(self) -> DataFrame:
        """One row per (batch_id, lang): the batch size and one count per
        chain stage (``REPORT_COLUMNS``); the stage counts sum to
        ``n_batch``."""
        counts = [
            F.sum((F.col("stage") == s).cast("long")).alias(f"n_{s}")
            for s in CURATION_STAGES
        ]
        return self._table().groupBy("batch_id", "lang").agg(
            F.count(F.lit(1)).alias("n_batch"), *counts
        )

    def ann_segments(self) -> DataFrame:
        """The job's streaming ANN serving rows — (doc_id, embedding,
        label) of every doc accepted with the ANN stage on, labeled by the
        published quantizer at accept time. Probe-able by the standard
        machinery after the vec_id rename; between re-trainings a
        deployment unions these with the main index exactly like the batch
        segments (kmeans_ivf.kmeans_ivf_serving_view)."""
        return self._kept().filter(F.col("label").isNotNull()).select(
            "doc_id", "embedding", "label"
        )

    def pq_segments(self) -> DataFrame:
        """The job's streaming COMPRESSED serving rows — (doc_id, codes,
        label) of every doc accepted with the ANN stage on, encoded
        against the published corpus-split PQ codebooks and labeled by the
        published corpus-split quantizer at accept time."""
        return self._kept().filter(F.col("label").isNotNull()).select(
            "doc_id", "codes", "label"
        )

    def pq_serving_view(self) -> DataFrame:
        """THE compressed serving view of an ann-enabled job: the main
        corpus-split code table (split-trained labels + codes) ∪ this
        job's accepted streaming code segments, one (vec_id, label,
        codes) row per vector — exactly the shape
        ``pq._ivfpq_serving_members`` builds for batch drops, so the
        shared LUT-ADC probe (the routing kernel ``similarity._route``
        through ``pq._route_df``, then ``pq._build_lut``/
        ``pq._lut_adc_rerank`` with the published split structures) runs
        unchanged over a streaming deployment (pinned twin-job-equal to
        the batch-encoded union in tests)."""
        if self.ann_sf_dir is None:
            raise ValueError(
                "pq_serving_view requires StreamingCuration(ann_sf_dir=...)"
            )
        from kafka_connect_storage_cloud_formats_spark.operators.kmeans_ivf import (
            train_kmeans_quantizer,
        )
        from kafka_connect_storage_cloud_formats_spark.operators.pq import train_pq

        assignment, _ = train_kmeans_quantizer(
            self.spark, self.ann_sf_dir, split="corpus"
        )
        codes_df, _ = train_pq(self.spark, self.ann_sf_dir, split="corpus")
        main = (
            assignment.select(
                "vec_id", F.col("cluster").cast("long").alias("label")
            )
            .join(codes_df, "vec_id")
            .select("vec_id", "label", "codes")
        )
        return main.unionByName(
            self.pq_segments().select(
                F.col("doc_id").alias("vec_id"), "label", "codes"
            )
        )

    def ann_serving_view(self) -> DataFrame:
        """THE serving view of an ann-enabled job: the main corpus-split
        index ∪ this job's accepted streaming segments, one (vec_id,
        embedding, label) row per vector — the rows of the union
        ``kmeans_ivf_serving_view`` builds for batch drops, without its
        stored ``norm`` (the state keeps no norm column), so the standard
        probe (``similarity._ivf_probe`` with the published corpus-split
        centroids, over ``similarity._with_norm`` of this view) runs
        unchanged. Metadata-only: a union over the published index files
        and the job's state partitions (pinned bit-equal to the hand-built
        union in tests)."""
        if self.ann_sf_dir is None:
            raise ValueError(
                "ann_serving_view requires StreamingCuration(ann_sf_dir=...)"
            )
        from kafka_connect_storage_cloud_formats_spark.artifacts import published_df
        from kafka_connect_storage_cloud_formats_spark.operators.kmeans_ivf import (
            build_kmeans_ivf_index,
        )

        main = published_df(
            self.spark,
            build_kmeans_ivf_index(self.spark, self.ann_sf_dir, split="corpus"),
        ).select("vec_id", "embedding", F.col("label").cast("long").alias("label"))
        return main.unionByName(
            self.ann_segments().select(
                F.col("doc_id").alias("vec_id"), "embedding", "label"
            )
        )

    # ---- state compaction --------------------------------------------------
    def fold_state(self) -> int | None:
        """Fold the accumulated per-batch partitions into ONE generation
        partition, run on the re-index/merge schedule like the batch
        tiers' merged generations and ``compact_kmeans_ivf_segments``:
        without it, at 10k micro-batches the per-batch corpus view is a
        10k-directory listing and a 10k-file union. After a fold the view
        is O(1 + batches-since-fold) directories.

        NO recomputation — the fold is a union of already-committed rows,
        never a re-classification; deterministic overwrite at
        ``f{max_folded_id:010d}``; ``_SUCCESS``-gated (an uncommitted fold
        is invisible). Crash-safety is READ-side: a committed fold makes
        every covered partition ignored by ``_state_parts`` even before
        the cleanup deletes land, so fold → crash → re-fold never
        double-counts and re-running a fold is a no-op.

        Replay invariant: the NEWEST committed per-batch partition is
        never folded — its batch is the only one the checkpoint can still
        replay, and a replay of batch N must reconstruct state strictly
        before N, which a fold containing N would contaminate. Every older
        id folds; a superseded fold folds into the new one. Returns the
        new fold id, or the surviving previous fold id, or None when
        nothing is foldable."""
        parts = self._list_parts()
        b_ids = [i for p, i, _ in parts if p == "b"]
        fold_ids = [i for p, i, _ in parts if p == "f"]
        prev_fold = max(fold_ids) if fold_ids else None
        # foldable = every committed batch except the newest (replay
        # invariant above) that a previous fold doesn't already cover
        foldable = [
            i for i in b_ids
            if i < max(b_ids) and (prev_fold is None or i > prev_fold)
        ] if b_ids else []
        if not foldable:
            if prev_fold is not None:
                # nothing new, but a prior fold's interrupted cleanup may
                # have left covered (reader-ignored) partitions behind —
                # reclaim them so the no-op path still converges the layout
                self._reclaim(parts, prev_fold)
            return prev_fold
        new_id = max(foldable)
        # the effective view at before=new_id+1 IS the fold's content:
        # previous fold (covers ≤ prev_fold) + b partitions in range
        dst = os.path.join(self.state_dir, _KIND, f"f{new_id:010d}")
        self._table(before=new_id + 1).coalesce(1).write.mode("overwrite").parquet(dst)
        self._reclaim(parts, new_id)
        return new_id

    def _reclaim(self, parts, fold_id: int) -> None:
        """Delete partitions a committed fold covers (everything at
        id ≤ fold_id except the fold itself). Readers already ignore
        them — deletes are pure space reclamation and re-runnable; a
        failure leaves redundant-but-ignored directories for next time."""
        fs = _fs_for(os.path.join(self.state_dir, _KIND), self.spark)
        for prefix, i, path in parts:
            if i <= fold_id and not (prefix == "f" and i == fold_id):
                fs.delete(path, recursive=True)

    # ---- the drop --------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Classify one micro-batch (columns: doc_id, text, lang, plus
        embedding with the ANN stage on) against the accepted state and
        commit it as ``batches/b{batch_id:010d}``. Two queries:

        1. The source map pass builds the per-document table (a doc with
           no shingle — NULL text, fewer than 3 tokens — has NULL
           signature components) and ``_judge`` flags it against the kept
           rows of one listing and one scan of the state: one left join
           of the candidate keys (``_doc_keys``), one groupBy(doc_id).
           The result is checkpointed.
        2. The batch-only tail: ``_staged`` adds the ``stage`` column (the
           min-id rule for exact_within, the within-batch near-dup pass
           over the survivors); with the ANN stage on, the kept rows are
           assigned and encoded (:meth:`_with_serving_columns`); the table
           is written once, one file sorted by ``doc_id``, which is the
           batch's only commit."""
        if self.fold_every and batch_id > 0 and batch_id % self.fold_every == 0:
            self.fold_state()  # the scheduled maintenance fold (see __init__)
        cols = ["doc_id", "lang", "text"]
        if self.ann_sf_dir is not None:
            if "embedding" not in batch_df.columns:
                raise ValueError(
                    "StreamingCuration(ann_sf_dir=...) requires an 'embedding' "
                    "column on the stream (array<float>)"
                )
            cols.append("embedding")
        table = _with_minhash_array(batch_df.select(*cols)).withColumn(
            "content_hash", F.unhex(F.sha2(F.col("text"), 256))
        ).drop("text")
        # corpus view = strictly-earlier batches (replay determinism: a
        # retried batch must never see its own prior commit as corpus)
        judged = _judge(
            _doc_keys(table),
            _doc_keys(self._kept(before=batch_id)),
        ).localCheckpoint(eager=True)  # cuts the stream lineage
        classified = _staged(judged)
        # a dropped row keeps only what the report reads; SQL strings, as
        # each Column built in Python is a handful of py4j calls
        kept_only = "IF(stage = 'kept', {0}, NULL) AS {0}".format
        out = [
            f"CAST({batch_id} AS BIGINT) AS batch_id", "doc_id", "lang",
            *map(kept_only, ["content_hash", *_MH_COLS]), "stage",
        ]
        if self.ann_sf_dir is not None:
            classified = self._with_serving_columns(classified)
            out += [kept_only("embedding"), "label", "codes"]
        (
            classified.selectExpr(*out)
            .coalesce(1)
            .sortWithinPartitions("doc_id")  # replays rewrite identical bytes
            .write.mode("overwrite")
            .parquet(os.path.join(self.state_dir, _KIND, f"b{batch_id:010d}"))
        )

    def _with_serving_columns(self, classified: DataFrame) -> DataFrame:
        """``classified`` plus ``label`` and ``codes`` for its kept rows
        (NULL on the others): the kept (doc_id, embedding) rows assigned
        against the published corpus-split quantizer and PQ-encoded
        against the published corpus-split codebooks, in one map-only pass
        each, then joined back by doc_id. The assignment is the batch
        tiers' own ``assign_to_published_quantizer`` and the encode their
        own ``_assign_pq``, so a streaming drop lands in exactly the cells
        and codes a batch drop would."""
        from kafka_connect_storage_cloud_formats_spark.operators.kmeans_ivf import (
            assign_to_published_quantizer,
        )
        from kafka_connect_storage_cloud_formats_spark.operators.pq import (
            _assign_pq,
            _collect_pq_matrices,
            train_pq,
        )

        # carry_embedding echoes the vector through the assignment pass, so
        # the encode reads it without a join
        cells = assign_to_published_quantizer(
            self.spark,
            self.ann_sf_dir,
            classified.filter(F.col("stage") == "kept").select(
                F.col("doc_id").alias("vec_id"), "embedding"
            ),
            carry_embedding=True,
        )
        _, cents = train_pq(self.spark, self.ann_sf_dir, split="corpus")
        coded = _assign_pq(cells, _collect_pq_matrices(cents), carry_cluster=True)
        return classified.join(
            coded.select(
                F.col("vec_id").alias("doc_id"),
                F.col("cluster").cast("long").alias("label"),
                "codes",
            ),
            "doc_id",
            "left",
        )


def run_curation_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    fold_every: int | None = None,
    ann_sf_dir: str | None = None,
) -> StreamingCuration:
    """Run the curation job over all currently-available input (trigger
    availableNow — the batch-interval form of a continuous job) and
    return the state handle. Safe to re-run: the checkpoint skips
    committed batches, and replayed batches rewrite their partitions
    byte-identically. ``fold_every=N`` wires the state fold into the
    job's own schedule (every N-th batch); ``ann_sf_dir`` enables the
    per-drop ANN serving-segment stage (see StreamingCuration)."""
    cur = StreamingCuration(
        spark, state_dir, fold_every=fold_every, ann_sf_dir=ann_sf_dir
    )
    q = (
        docs_stream.writeStream.foreachBatch(cur.process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return cur
